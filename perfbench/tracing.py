"""Traced-run instrumentation: spans and counters recorded around the
program's public functions at each module boundary.

Nothing here edits the package. The ``Tracer.install_*`` methods replace
module and class attributes with wrappers for the life of one benchmark
run and ``Tracer.uninstall`` puts the originals back. Spans (name, start, end,
parent, request id) and counters stay in memory; ``Tracer.dump`` writes
them once, at exit.

Spark jobs are counted as the delta of the scheduler's job counter
(``DAGScheduler.numTotalJobs``), which never saturates the way the status
tracker's retained-job list does. Rows and bytes read come from the
status store's per-stage input metrics, read after the listener bus has
drained; files read come from the executed plan's scan metrics.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import Counter
from contextlib import contextmanager

RID_HEADER = "X-Bench-Request"

# span names, one per wrapped boundary
SERVER = "oai.server.do_GET"
FACADE = "oai.facade.handle_request"
PLANNER = "plans.query_builder"         # + "." + method
TOKENS = "plans.tokens"                 # + "." + function
RENDER = "oai.render"                   # + "." + function
METRICS = "operators.metrics.compute_metrics"
EXEC = "spark.exec"                     # + "." + action
INGEST_MERGE = "streaming.ingest.merge_batch_versioned"
VT_MERGE = "sources.versioned_table.merge_keys"
QUARANTINE = "bench.quarantine_count"    # the tracer's own count, not a layer


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self.spans: list[dict] = []
        self.counters: Counter = Counter()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # --- spans ---------------------------------------------------------------

    def jobs(self) -> int:
        return self._dag.numTotalJobs()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def request_id(self):
        return getattr(self._local, "rid", None)

    @request_id.setter
    def request_id(self, rid):
        self._local.rid = rid

    def open_names(self) -> set[str]:
        return {s["name"] for s in self._stack()}

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        st = self._stack()
        rec = {"id": next(self._ids), "name": name,
               "parent": st[-1]["id"] if st else None,
               "rid": self.request_id, **attrs}
        if jobs:
            rec["j0"] = self.jobs()
        rec["t0"] = time.perf_counter()
        st.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            st.pop()
            if jobs:
                rec["j1"] = self.jobs()
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str, n=1) -> None:
        with self._lock:
            self.counters[name] += n

    # --- installing wrappers -------------------------------------------------

    def _replace(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str, jobs: bool = False,
             after=None, attrs=None) -> None:
        """Wrap ``owner.attr`` (function, method or classmethod) in a span.
        ``after(span, args, kwargs, result)`` may annotate the span;
        ``attrs(args, kwargs)`` gives span attributes up front."""
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self

        def wrapper(*args, **kwargs):
            extra = attrs(args, kwargs) if attrs else {}
            with tracer.span(name, jobs=jobs, **extra) as sp:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(sp, args, kwargs, out)
                return out

        wrapper.__wrapped__ = fn
        self._replace(owner, attr, classmethod(wrapper) if is_cm else wrapper)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, raw = self._undo.pop()
            setattr(owner, attr, raw)

    def install_spark(self) -> None:
        """Spans around the DataFrame actions the program runs (``first``
        and ``take`` reach ``collect``); only the outermost action of a
        thread opens a span."""
        from pyspark.sql.classic.dataframe import DataFrame

        tracer = self
        for action in ("collect", "count"):
            fn = DataFrame.__dict__[action]

            def wrapper(df, *args, _fn=fn, _action=action, **kwargs):
                if any(n.startswith(EXEC) for n in tracer.open_names()):
                    return _fn(df, *args, **kwargs)
                with tracer.span(f"{EXEC}.{_action}", jobs=True) as sp:
                    out = _fn(df, *args, **kwargs)
                    if _action == "collect":
                        sp["rows"] = len(out)
                        sp["files"] = scan_files(df)
                    return out

            self._replace(DataFrame, action, wrapper)

    def install_serving(self) -> None:
        from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai import (
            facade as facade_mod, render, server as server_mod,
        )
        from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.plans import (
            query_builder as qb, tokens,
        )

        self.install_spark()
        self.wrap(facade_mod.OAIFacade, "handle_request", FACADE, jobs=True,
                  attrs=lambda a, k: {"verb": k.get("verb")})
        for method in ("list_page", "get_record", "get_record_exists",
                       "list_sets"):
            self.wrap(qb.OAIQueryPlanner, method, f"{PLANNER}.{method}",
                      jobs=True, attrs=_first_page_attr if method == "list_page"
                      else None)
        self.wrap(tokens.ResumptionToken, "encode", f"{TOKENS}.encode")
        self.wrap(tokens.ResumptionToken, "decode", f"{TOKENS}.decode")
        self.wrap(facade_mod, "finalize_token",
                  f"{TOKENS}.finalize_token")
        for fn in ("render_record", "render_header"):
            self.wrap(render, fn, f"{RENDER}.{fn}")
        self.wrap(render, "to_string", f"{RENDER}.to_string",
                  after=_bytes_out)
        self.wrap(server_mod, "compute_metrics", METRICS, jobs=True)

    def install_handler(self, http_server) -> None:
        """Span around the HTTP handler of one started ``OAIHTTPServer``;
        the client's request id travels in the ``RID_HEADER`` header."""
        handler = http_server._httpd.RequestHandlerClass
        fn = handler.__dict__["do_GET"]
        tracer = self

        def do_get(h):
            tracer.request_id = h.headers.get(RID_HEADER)
            try:
                with tracer.span(SERVER):
                    return fn(h)
            finally:
                tracer.request_id = None

        self._replace(handler, "do_GET", do_get)

    def install_ingest(self) -> None:
        from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import (
            versioned_table as VT,
        )
        from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming import (
            ingest,
        )

        self.install_spark()
        tracer = self
        self.wrap(ingest, "merge_batch_versioned", INGEST_MERGE, jobs=True,
                  attrs=lambda a, k: {"epoch": k.get("epoch_id")})
        # the quarantine count must run outside the span's job window:
        # wrap once more, outside, to annotate the inner span afterwards
        inner = ingest.merge_batch_versioned

        def merge_then_count(batch, *args, **kwargs):
            out = inner(batch, *args, **kwargs)
            # counted after the merge's job window closed, so the extra
            # job shows in no merge's job count
            with tracer.span(QUARANTINE, epoch=kwargs.get("epoch_id")) as sp:
                sp["quarantined"] = ingest.split_quarantine(batch)[1].count()
            return out

        self._replace(ingest, "merge_batch_versioned", merge_then_count)
        self.wrap(VT, "merge_keys", VT_MERGE, jobs=True)

    # --- Spark status store ----------------------------------------------------

    def stage_input(self, j0: int, j1: int) -> tuple[int, int]:
        """(records, bytes) read by the stages of jobs ``j0 .. j1-1``."""
        store = self._sc.statusStore()
        recs = nbytes = 0
        for j in range(j0, j1):
            try:
                it = store.job(j).stageIds().iterator()
            except Exception:  # job aged out of the status store
                self.count("trace.jobs_missing")
                continue
            while it.hasNext():
                try:
                    sd = store.lastStageAttempt(it.next())
                except Exception:
                    self.count("trace.stages_missing")
                    continue
                recs += sd.inputRecords()
                nbytes += sd.inputBytes()
        return recs, nbytes

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(30000)

    def dump(self, path: str, metrics: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": dict(self.counters),
                       "metrics": metrics}, f)


def _first_page_attr(args, kwargs):
    return {"first_page": kwargs.get("token") is None}


def _bytes_out(sp, args, kwargs, out):
    sp["bytes"] = len(out.encode())


def scan_files(df) -> int:
    """Files the executed plan's parquet scans read (their numFiles
    metric), through adaptive and query-stage wrappers."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            m = node.metrics().get("numFiles")
            if m.isDefined():
                total += m.get().value()
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    return total
