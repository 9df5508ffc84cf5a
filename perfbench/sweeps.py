"""The ``ingest_sweeps`` workload: the harvest write path.

Set-up lands ``BASE_EVENTS`` upserts and lets the program's own ingest
(``streaming.ingest.start_ingest_versioned``) build the versioned table.
Each timed sweep then lands one pre-generated event batch (updates spread
over the whole key range, new keys, deletes and malformed events) and runs
``start_ingest_versioned(available_now=True)`` on the same checkpoint
until it terminates, i.e. until the sweep's version is published. After
each sweep a facade over a versioned-table-backed ``OAIQueryPlanner``
answers GetRecord for keys the sweep updated.
"""

from __future__ import annotations

import os
import random
import time

import gen
from harness import Checks, iqm, median_metric, metric, settle

BASE_EVENTS = 5_000
UPDATES, NEW, DELETES, BAD_ACTION, BAD_KEY = 150, 75, 20, 3, 2
FRESH_READS = 5                 # fresh GetRecords after each sweep
SWEEP_S = 10                    # seconds of the window per sweep: a sweep
                                # takes 10-15 s, most of it fixed cost
BASE_TS = 1_700_000_000         # harvest_ts of the base events; +1 h a sweep
BAD_KEY_BASE = 90_000_000       # record numbers of the malformed events
BLANK = "blank-key"             # marks events generated with an empty key


class SweepPlan:
    """Seeded content of one sweep and its effect on the expected state."""

    def __init__(self, seed: int, s: int, n_keys: int):
        rng = random.Random(seed * 1000 + s)
        picked = rng.sample(range(n_keys), UPDATES + DELETES)
        self.s = s
        self.updates = sorted(picked[:UPDATES])
        self.deletes = sorted(picked[UPDATES:])
        self.new = list(range(n_keys, n_keys + NEW))
        self.bad_action = [BAD_KEY_BASE + s * 100 + j for j in range(BAD_ACTION)]
        self.bad_key = [BAD_KEY_BASE + s * 100 + 50 + j for j in range(BAD_KEY)]
        self.events = (UPDATES + NEW + DELETES + BAD_ACTION + BAD_KEY)

    def apply(self, state: dict) -> None:
        for k in self.updates:
            state[gen.record_id(k)] = ("created", f"Updated {self.s} {gen.record_id(k)}")
        for k in self.new:
            state[gen.record_id(k)] = ("created", f"Title of {gen.record_id(k)}")
        for k in self.deletes:
            state[gen.record_id(k)] = ("deleted", f"Deleted {self.s} {gen.record_id(k)}")


def _events(spark, seed: int, plans: list[SweepPlan], n_base: int):
    """All batches in one DataFrame, column ``sweep`` naming the batch."""
    from pyspark.sql import functions as F

    rows = [(k, 0, "upsert", "Title of", BASE_TS) for k in range(n_base)]
    for p in plans:
        ts = BASE_TS + 3600 * p.s
        rows += [(k, p.s, "upsert", f"Updated {p.s}", ts) for k in p.updates]
        rows += [(k, p.s, "upsert", "Title of", ts) for k in p.new]
        rows += [(k, p.s, "delete", f"Deleted {p.s}", ts) for k in p.deletes]
        rows += [(k, p.s, "upsrt", "Title of", ts) for k in p.bad_action]
        # distinct harvest times, or the stream's (key, harvest_ts) dedup
        # folds the blank-key events into one
        rows += [(k, p.s, BLANK, "Title of", ts + j)
                 for j, k in enumerate(p.bad_key)]
    ids = spark.createDataFrame(
        rows, "id long, sweep int, action string, prefix string, ts long")
    df = gen.corpus_df(spark, ids, seed, F.col("prefix"), always_titled=True,
                       extra=("sweep", "action", "ts"))
    blank = F.col("action") == BLANK
    return (df.withColumn("aggregator_identifier",
                          F.when(blank, F.lit("")).otherwise(
                              F.col("aggregator_identifier")))
            .withColumn("action", F.when(blank, F.lit("upsert"))
                        .otherwise(F.col("action")))
            .withColumn("harvest_ts", F.timestamp_seconds("ts")).drop("ts"))


def _manifest_diff(VT, table: str, v0: int, v1: int) -> dict:
    """Files touched and rows rewritten by versions ``v0+1 .. v1``."""
    touched = parent_files = rows = 0
    prev = VT.read_manifest(table, v0)
    for v in range(v0 + 1, v1 + 1):
        m = VT.read_manifest(table, v)
        old, new = set(prev["files"]), set(m["files"])
        touched += len(old - new)
        parent_files += len(old)
        rows += sum(m["stats"][f]["__rows__"][0] for f in new - old)
        prev = m
    return {"touched": touched, "parent_files": parent_files, "rows": rows}


def ingest_sweeps(spark, work: str, seed: int, seconds: float,
                  tracer=None) -> dict:
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai.facade import (
        OAIFacade,
    )
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.plans.query_builder import (
        OAIQueryPlanner,
    )
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import (
        versioned_table as VT,
    )
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming.ingest import (
        start_ingest_versioned,
    )

    t0 = time.perf_counter()
    stage, events = os.path.join(work, "stage"), os.path.join(work, "events")
    table, ckpt = os.path.join(work, "table"), os.path.join(work, "checkpoint")
    os.makedirs(events)
    # A fixed number of sweeps, not as many as fit the window: the first
    # sweep after set-up runs slower than the next, so runs holding
    # different numbers of sweeps would not compare.
    n_sweeps = max(1, int(seconds // SWEEP_S))
    plans, n_keys = [], BASE_EVENTS
    for s in range(1, n_sweeps + 1):
        plans.append(SweepPlan(seed, s, n_keys))
        n_keys += NEW
    (_events(spark, seed, plans, BASE_EVENTS).repartition("sweep")
     .write.partitionBy("sweep").parquet(stage))
    t_inputs = time.perf_counter()

    def land(s: int) -> None:
        d = os.path.join(stage, f"sweep={s}")
        (name,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
        os.rename(os.path.join(d, name), os.path.join(events, f"batch{s}.parquet"))

    def sweep():
        q = start_ingest_versioned(spark, events, table, ckpt)
        q.awaitTermination()
        return q.recentProgress

    if tracer is not None:
        tracer.install_ingest()
    land(0)
    sweep()
    state = {gen.record_id(k): ("created", f"Title of {gen.record_id(k)}")
             for k in range(BASE_EVENTS)}
    setup_s = time.perf_counter() - t0
    setup_parts = {"inputs_s": t_inputs - t0,
                   "table_build_s": setup_s - (t_inputs - t0)}
    settle(spark)

    checks = Checks()
    sweeps, fresh_ms, point_files = [], [], [0, 0]
    for p in plans:
        v0 = VT.current_version(table)
        t_land = time.perf_counter()
        land(p.s)
        progress = sweep()
        sweep_s = time.perf_counter() - t_land
        v1 = VT.current_version(table)
        p.apply(state)
        sweeps.append({"s": sweep_s, "events": p.events, "v0": v0, "v1": v1,
                       "progress": [_progress(x) for x in progress]})
        checks.record(v1 > v0, f"sweep {p.s} published no version")
        facade = OAIFacade(OAIQueryPlanner(VT.read(spark, table), vt_path=table))
        rng = random.Random(seed * 31 + p.s)
        for k in rng.sample(p.updates, FRESH_READS):
            rid = gen.record_id(k)
            t = time.perf_counter()
            body = facade.handle_request(verb="GetRecord", identifier=rid,
                                         metadataPrefix="oai_dc")
            fresh_ms.append(1000 * (time.perf_counter() - t))
            total, read = facade.planner.last_point_files
            point_files[0] += total
            point_files[1] += read
            checks.record(f"Updated {p.s} {rid}<" in body
                          and 'status="deleted"' not in body,
                          f"fresh GetRecord {rid} after sweep {p.s}: {body[:300]!r}")

    # final snapshot against the model: every key, its status and title
    rows = VT.read(spark, table).selectExpr(
        "aggregator_identifier AS k", "metadata.status AS st",
        "study_titles[0].value AS t").collect()
    got = {r["k"]: (r["st"], r["t"]) for r in rows}
    wrong = [k for k in set(got) | set(state) if got.get(k) != state.get(k)]
    checks.record(not wrong and len(rows) == len(got),
                  f"final snapshot: {len(wrong)} keys differ, e.g. "
                  f"{[(k, got.get(k), state.get(k)) for k in sorted(wrong)[:3]]}")
    live = sum(1 for st, _ in state.values() if st != "deleted")
    detail_counts = {"live": live, "deleted": len(state) - live}

    sweep_s = [x["s"] for x in sweeps]
    n_events = sum(x["events"] for x in sweeps)
    events_per_s = n_events / sum(sweep_s)
    out = {
        "setup_s": setup_s,
        "setup_parts": setup_parts,
        "checks": checks,
        "latency_ms_iqm": 1000 * iqm(sweep_s),
        "work_per_s": events_per_s,
        "detail": {
            "sweep_s_p50": median_metric(sweep_s, "s"),
            "ingest_events_per_s": metric(events_per_s, "1/s"),
            "fresh_getrecord_ms_p50": median_metric(fresh_ms, "ms"),
            "sweeps": metric(len(sweeps), "count"),
            "final_snapshot": metric(detail_counts, "count"),
        },
        "sweeps": sweeps,
        "malformed_events": len(sweeps) * (BAD_ACTION + BAD_KEY),
    }
    diff = _manifest_diff(VT, table, sweeps[0]["v0"], sweeps[-1]["v1"])
    out["vt"] = {
        "versions_per_sweep": sum(x["v1"] - x["v0"] for x in sweeps) / len(sweeps),
        "files_touched_ratio": diff["touched"] / max(1, diff["parent_files"]),
        "rows_rewritten_per_event": diff["rows"] / n_events,
        "point_files_read_ratio": point_files[1] / max(1, point_files[0]),
    }
    return out


def _progress(p) -> dict:
    """The fields of one ``StreamingQueryProgress`` the trace reports."""
    dur = p["durationMs"]
    ops = p["stateOperators"] or []
    return {"batch": p["batchId"], "rows": p["numInputRows"],
            "trigger_ms": dur.get("triggerExecution", 0),
            "add_batch_ms": dur.get("addBatch", 0),
            "state_rows": sum(o["numRowsTotal"] for o in ops)}
