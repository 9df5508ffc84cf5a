"""Shared plumbing: the process environment, the Spark session, HTTP
requests, memory readings and summary statistics."""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import urllib.error
import urllib.request

# One driver JVM with a fixed heap, so peak memory is comparable between
# runs and small next to the machine. Four cores at most (the
# benchmark's stated size); fewer if the machine has fewer.
CPUS = max(1, min(4, os.cpu_count() or 1))
DRIVER_MEMORY = "2g"


def configure_env(root: str, work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` and make the package importable by Spark's Python workers.
    Must run before pyspark starts the JVM."""
    conf_dir = os.path.join(work, "spark-conf")
    tmp = os.path.join(work, "tmp")
    for d in (conf_dir, tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write(f"spark.ui.showConsoleProgress false\n"
                f"spark.local.dir {work}/spark-local\n"
                f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp} -XX:-UsePerfData\n"
                f"spark.sql.warehouse.dir {work}/warehouse\n")
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "SPARK_CONF_DIR": conf_dir,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": root + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
    })


def start_spark(app: str):
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.session import (
        build_session,
    )

    spark = build_session(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def settle(spark, pause_s: float = 1.0) -> None:
    """Collect set-up garbage in the JVM and in Python, then give the JIT
    compiler threads a moment, so the measured phase starts from the same
    state in every run. Freezing what set-up left (the model, the expected
    outputs) keeps it out of the collections that run in the program's
    threads, which share this process with the benchmark."""
    import gc

    spark.sparkContext._jvm.java.lang.System.gc()
    gc.collect()
    gc.freeze()
    time.sleep(pause_s)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def fetch(port: int, path: str, headers: dict | None = None,
          timeout: float = 60.0) -> tuple[int, str]:
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}",
                                 headers=headers or {})
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as exc:
        return exc.code, exc.read().decode(errors="replace")


class Clock:
    """Wall-clock deadline for the measured phase."""

    def __init__(self, seconds: float):
        self.t0 = time.perf_counter()
        self.deadline = self.t0 + seconds

    def left(self) -> float:
        return self.deadline - time.perf_counter()


def pct(values, q: float, min_beyond: int = 10):
    """Nearest-rank ``q``-th percentile, or None unless at least
    ``min_beyond`` samples lie beyond it."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    if len(xs) - rank < min_beyond:
        return None
    return xs[rank - 1]


def median(values):
    return statistics.median(values) if values else None


def iqm(values):
    """Interquartile mean: the mean of the middle half of the sorted
    samples (all of them below four). Steadier between runs than the
    median when a run's samples fall in clusters, as a mixed request
    load's do."""
    xs = sorted(values)
    cut = len(xs) // 4
    return statistics.mean(xs[cut:len(xs) - cut]) if xs else None


def metric(value, unit: str, **note) -> dict:
    out = {"value": value, "unit": unit}
    out.update(note)
    return out


def median_metric(values, unit: str) -> dict:
    """The median with its sample count, noting when fewer than 10
    samples lie beyond it."""
    out = metric(median(values), unit, samples=len(values))
    if len(values) < 20:
        out["note"] = "fewer than 20 samples: fewer than 10 beyond the median"
    return out


def percentile_metric(values, q: float, unit: str) -> dict:
    """A percentile with its sample count, or the reason it is absent."""
    v = pct(values, q)
    if v is None:
        need = next(n for n in range(1, 10 ** 6)
                    if n - math.ceil(q / 100.0 * n) >= 10)
        return metric(None, unit, samples=len(values),
                      dropped=f"needs {need} samples for 10 beyond p{q:g}")
    return metric(v, unit, samples=len(values))


class Checks:
    """Counts attempted outputs and failed checks; keeps the first few
    failure reasons for the log."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(what)
        return ok
