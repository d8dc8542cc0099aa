"""Per-layer measurement for the traced run, taken from outside the package.

Nothing here edits package code.  The layers are timed at the calls the
benchmark makes into them, or at public entry points wrapped by module
attribute for the duration of a traced pass:

- ``plans``: the ``spec.fn`` call (build phase);
- ``operators``: the noop write of the returned DataFrame (exec phase);
- ``sources``: ``load_table`` (the catalog calls it through
  ``plans.qshared``), file-scan nodes from the SQL status store, and a
  single-threaded codec probe over the committed fixtures;
- ``functions``: the Python-worker SQL metrics (``PythonSQLMetrics``);
- ``streaming``: ``split_for_replay``, ``drain_polling_source`` and
  ``run_available_now`` (the catalog imports them inside each query
  function, so the wrappers take effect at call time), plus a
  ``StreamingQueryListener``;
- ``session``: conf, persist and temp-dir leaks measured between queries.

Jobs are attributed to a phase by job-id window: the loop is one client
and runs phases one after another, so every job submitted between a
phase's start and end belongs to it, including the streaming micro-batch
jobs that run on the stream thread under the stream's run id instead of
the caller's job group.  Spans stay in memory until ``write``.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import re
import statistics
import threading
import time
from collections import Counter
from contextlib import contextmanager

from pyspark.sql.streaming.listener import StreamingQueryListener

MB = float(1 << 20)

# (module, attribute, counter prefix) of the entry points wrapped while a
# pass is traced
WRAPPED = (
    ("odin_rs_spark.plans.qshared", "load_table", "load_table"),
    ("odin_rs_spark.sources.tables", "load_table", "load_table"),
    ("odin_rs_spark.streaming.sources", "split_for_replay", "split"),
    ("odin_rs_spark.streaming.datasource", "drain_polling_source", "drain"),
    ("odin_rs_spark.streaming.pipelines", "run_available_now", "drain"),
)

PY_METRICS = {
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_mb_sent",
    "data returned from Python workers": "py_mb_received",
    "number of output rows": "py_rows",
}
CODECS = ("grib2", "j2k", "hdf5", "zstd", "pdf_images", "avro", "warc")
DURATIONS = ("triggerExecution", "addBatch", "queryPlanning", "walCommit", "commitOffsets")

_METRIC_RE = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")
_VALUE_KEY_RE = re.compile(r"(?:^\w*Map\(|, )(\d+) -> ")
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / MB, "KiB": 1024 / MB, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0 * 1024,
}


def parse_metric_value(text: str) -> float:
    """A formatted SQL metric value as a number: seconds for timings, MiB
    for sizes, the plain number otherwise.  A value aggregated over several
    tasks reads ``total (min, med, max ...)\\n<total> (...)``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    head = text.split(" (", 1)[0].strip()
    num, _, unit = head.partition(" ")
    value = float(num.replace(",", ""))
    return value * _UNITS[unit] if unit else value


def parse_metric_values(text: str) -> dict[int, str]:
    """``SQLAppStatusStore.executionMetrics(...).toString()`` as a dict."""
    parts = _VALUE_KEY_RE.split(text[:-1])  # drop the map's closing ")"
    return {int(parts[i]): parts[i + 1] for i in range(1, len(parts) - 1, 2)}


class StreamListener(StreamingQueryListener):
    """Start/end, progress durations and state sizes of every stream run."""

    def __init__(self):
        self.lock = threading.Lock()
        self.order: list[str] = []
        self.runs: dict[str, dict] = {}

    def _run(self, run_id) -> dict:
        return self.runs.setdefault(
            str(run_id),
            {"start": None, "end": None, "batches": 0, "input_rows": 0,
             "ms": Counter(), "state_rows": 0, "state_mb": 0.0},
        )

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.order.append(str(event.runId))
            self._run(event.runId)["start"] = time.perf_counter()

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self.lock:
            r = self._run(p.runId)
            r["batches"] += 1
            r["input_rows"] += int(p.numInputRows)
            for k in DURATIONS:
                r["ms"][k] += int(p.durationMs.get(k, 0))
            ops = p.stateOperators or []
            r["state_rows"] = sum(int(op.numRowsTotal) for op in ops)
            r["state_mb"] = sum(int(op.memoryUsedBytes) for op in ops) / MB

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self._run(event.runId)["end"] = time.perf_counter()


class Tracer:
    """Collects spans and per-pass layer counters for traced passes."""

    def __init__(self, spark, workload: str, tmp_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.tmp_dir = tmp_dir
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.dag = jsc.dagScheduler()
        self.stage_store = jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.tracker = self.sc.statusTracker()
        self.listener = StreamListener()
        self.spans: list[list] = []
        self.passes: list[Counter] = []
        self.stats = Counter()
        self._seen_stages: set[int] = set()
        self._next_exec = 0
        self._saved: list[tuple] = []
        self._parent: int | None = None
        self._request = ""
        self._pass = -1

    # -- spans ------------------------------------------------------------
    def _span(self, name, start, end, parent, run_id) -> int:
        """Record a span [name, start, end, parent index, run id]; a span
        still open has end None."""
        self.spans.append([name, start, end, parent, run_id])
        return len(self.spans) - 1

    def write(self, path: str) -> None:
        """Spans and per-pass counters of the traced passes, as JSON."""
        keys = ("name", "start", "end", "parent", "run_id")
        with open(path, "w") as fh:
            json.dump(
                {"spans": [dict(zip(keys, s)) for s in self.spans],
                 "passes": [dict(p) for p in self.passes]},
                fh,
            )

    # -- passes -----------------------------------------------------------
    @contextmanager
    def traced_pass(self, index: int):
        self._pass = index
        self.bus.waitUntilEmpty()
        self._next_exec = self._first_missing_execution(self._next_exec)
        self.stats = Counter()
        self._install()
        self.spark.streams.addListener(self.listener)
        start = time.perf_counter()
        span = self._span(f"pass/{index}", start, None, None, f"{self.workload}/{index}")
        self._parent = span
        try:
            yield
        finally:
            self.spark.streams.removeListener(self.listener)
            self._uninstall()
            self.spans[span][2] = time.perf_counter()
            self._parent = None
            self.passes.append(self.stats)

    def _install(self) -> None:
        for mod_name, attr, key in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, key))

    def _uninstall(self) -> None:
        while self._saved:
            mod, attr, fn = self._saved.pop()
            setattr(mod, attr, fn)

    def _wrap(self, fn, key: str):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                self.stats[key + "_s"] += t1 - t0
                self.stats[key + "_calls"] += 1
                self._span(fn.__name__, t0, t1, self._parent, self._request)

        return timed

    # -- queries and phases -----------------------------------------------
    @contextmanager
    def query(self, name: str):
        """One query of a traced pass, with session-hygiene diffs around it."""
        conf0 = self.spark.conf.getAll
        persisted0 = self.sc._jsc.getPersistentRDDs().size()
        tmp0 = set(os.listdir(self.tmp_dir))
        parent = self._parent
        self._request = f"{self.workload}/{self._pass}/{name}"
        start = time.perf_counter()
        self._parent = self._span(name, start, None, parent, self._request)
        try:
            yield
        finally:
            self.spans[self._parent][2] = time.perf_counter()
            self._parent = parent
            conf1 = self.spark.conf.getAll
            self.stats["conf_leaks"] += sum(
                1 for k in conf0.keys() | conf1.keys() if conf0.get(k) != conf1.get(k)
            )
            self.stats["persist_leaks"] += max(
                0, self.sc._jsc.getPersistentRDDs().size() - persisted0
            )
            self.stats["tmpdir_leaks"] += len(set(os.listdir(self.tmp_dir)) - tmp0)

    @contextmanager
    def phase(self, name: str):
        """The build or exec phase of the current query, under job group
        ``<workload>/<pass>/<query>/<phase>``."""
        self.sc.setJobGroup(f"{self._request}/{name}", name)
        job0 = self.dag.nextJobId()
        runs0 = len(self.listener.order)
        parent = self._parent
        t0 = time.perf_counter()
        self._parent = self._span(name, t0, None, parent, self._request)
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans[self._parent][2] = t1
            self.stats[name + "_s"] += t1 - t0
            self.bus.waitUntilEmpty()
            self._collect_jobs(name, range(job0, self.dag.nextJobId()))
            self._collect_streams(runs0)
            self._collect_sql()
            self._parent = parent

    # -- status-store readers -----------------------------------------------
    def _collect_jobs(self, phase: str, job_ids) -> None:
        st = self.stats
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            st[phase + "_jobs"] += 1
            for sid in info.stageIds:
                if sid in self._seen_stages:
                    continue
                sd = self.stage_store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                st[phase + "_stages"] += 1
                st[phase + "_tasks"] += sd.numTasks()
                st[phase + "_task_cpu_s"] += sd.executorCpuTime() / 1e9
                st[phase + "_gc_s"] += sd.jvmGcTime() / 1e3
                st[phase + "_shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                st[phase + "_shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                st[phase + "_spill_mb"] += sd.diskBytesSpilled() / MB

    def _collect_streams(self, runs0: int) -> None:
        st = self.stats
        with self.listener.lock:
            runs = [(rid, self.listener.runs[rid]) for rid in self.listener.order[runs0:]]
        for rid, r in runs:
            st["stream_passes"] += 1
            st["stream_batches"] += r["batches"]
            st["stream_input_rows"] += r["input_rows"]
            st["stream_jobs"] += len(self.tracker.getJobIdsForGroup(rid))
            for k in DURATIONS:
                st["stream_" + k + "_ms"] += r["ms"][k]
            end = r["end"] if r["end"] is not None else time.perf_counter()
            st["stream_lifecycle_s"] += (end - r["start"]) - r["ms"]["triggerExecution"] / 1e3
            st["stream_state_rows"] += r["state_rows"]
            st["stream_state_mb"] += r["state_mb"]
            self._span("stream", r["start"], end, self._parent, rid)

    def _execution_exists(self, eid: int) -> bool:
        return bool(self.sql_store.execution(eid).isDefined())

    def _first_missing_execution(self, eid: int) -> int:
        """Smallest id >= eid with no SQL execution yet (ids are dense)."""
        if not self._execution_exists(eid):
            return eid
        step = 1
        while self._execution_exists(eid + step):
            eid += step
            step *= 2
        lo, hi = eid, eid + step  # lo exists, hi does not
        while hi - lo > 1:
            mid = (lo + hi) // 2
            if self._execution_exists(mid):
                lo = mid
            else:
                hi = mid
        return hi

    def _collect_sql(self) -> None:
        eid, misses = self._next_exec, 0
        while misses < 3:
            if not self._execution_exists(eid):
                misses += 1
                eid += 1
                continue
            misses = 0
            self._read_execution(eid)
            eid += 1
            self._next_exec = eid

    def _read_execution(self, eid: int) -> None:
        st = self.stats
        values = parse_metric_values(self.sql_store.executionMetrics(eid).toString())
        nodes = self.sql_store.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            metrics = {
                name: int(acc)
                for name, acc, _ in _METRIC_RE.findall(nodes.apply(i).metrics().toString())
            }

            def value(name: str) -> float:
                text = values.get(metrics.get(name, -1))
                return parse_metric_value(text) if text else 0.0

            if "number of files read" in metrics:
                st["scans"] += 1
                st["scan_files"] += value("number of files read")
                st["scan_mb"] += value("size of files read")
                st["scan_rows"] += value("number of output rows")
            if "time to run Python workers" in metrics:
                for name, key in PY_METRICS.items():
                    st[key] += value(name)

    # -- result -----------------------------------------------------------
    def layer_metrics(self, cores: int) -> dict[str, float]:
        """Per-pass means over the traced warm passes, except the once-per-
        session costs -- worker start-up and first-use leaks -- which are
        the cold pass's totals.  The first traced pass is the cold one."""
        cold, warm = self.passes[0], self.passes[1:]

        def mean(key: str) -> float:
            return sum(p[key] for p in warm) / len(warm)

        build, exec_ = mean("build_s"), mean("exec_s")
        out = {
            "session.conf_leaks": cold["conf_leaks"],
            "session.persist_leaks": cold["persist_leaks"],
            "session.tmpdir_leaks": cold["tmpdir_leaks"],
            "functions.py_boot_s": cold["py_boot_s"],
            "functions.py_init_s": cold["py_init_s"],
            "plans.build_s": build,
            "plans.build_jobs": mean("build_jobs"),
            "plans.build_stages": mean("build_stages"),
            "plans.build_share": build / (build + exec_),
            "operators.exec_s": exec_,
            "operators.exec_jobs": mean("exec_jobs"),
            "operators.exec_stages": mean("exec_stages"),
            "operators.exec_tasks": mean("exec_tasks"),
            "operators.task_cpu_s": mean("exec_task_cpu_s"),
            "operators.cpu_util": mean("exec_task_cpu_s") / (exec_ * cores),
            "operators.gc_s": mean("exec_gc_s"),
            "operators.shuffle_write_mb": mean("exec_shuffle_write_mb"),
            "operators.shuffle_read_mb": mean("exec_shuffle_read_mb"),
            "operators.spill_mb": mean("exec_spill_mb"),
            "sources.load_table_calls": mean("load_table_calls"),
            "sources.load_table_s": mean("load_table_s"),
            "streaming.split_s": mean("split_s"),
            "streaming.split_calls": mean("split_calls"),
            "streaming.drain_s": mean("drain_s"),
        }
        for key in ("scans", "scan_files", "scan_mb", "scan_rows"):
            out["sources." + key] = mean(key)
        for key in ("py_run_s", "py_mb_sent", "py_mb_received", "py_rows"):
            out["functions." + key] = mean(key)
        for key in ("passes", "batches", "input_rows", "jobs", "lifecycle_s", "state_rows", "state_mb"):
            out["streaming." + key] = mean("stream_" + key)
        for k in DURATIONS:
            name = "trigger" if k == "triggerExecution" else k
            out[f"streaming.{name}_ms"] = mean(f"stream_{k}_ms")
        return out


# -- probes outside the passes ------------------------------------------------
def _grib2_section7(buf: bytes) -> bytes:
    """Payload of the first GRIB2 section 7 (the packed data)."""
    off = 16  # section 0
    while off + 5 <= len(buf):
        length = int.from_bytes(buf[off : off + 4], "big")
        if buf[off + 4] == 7:
            return buf[off + 5 : off + length]
        off += length
    raise ValueError("no GRIB2 section 7")


def codec_rates(fixtures: str, min_seconds: float = 0.1) -> dict[str, float]:
    """Single-threaded decode throughput (input MiB/s) of public decoders
    on committed fixtures, by codec: the median of repeated calls."""
    from odin_rs_spark.sources.avrocodec import parse_avro
    from odin_rs_spark.sources.grib2 import parse_grib2
    from odin_rs_spark.sources.hdf5 import parse_hdf5
    from odin_rs_spark.sources.j2kcodec import decode_j2k
    from odin_rs_spark.sources.pdfcodec import parse_pdf_images
    from odin_rs_spark.sources.warc import parse_warc
    from odin_rs_spark.sources.zstdcodec import zstd_decompress

    def read(name: str) -> bytes:
        with open(os.path.join(fixtures, name), "rb") as fh:
            return fh.read()

    cases = {
        "grib2": (parse_grib2, read("wind_complex.grib2")),
        "j2k": (decode_j2k, _grib2_section7(read("wind_j2k.grib2"))),
        "hdf5": (parse_hdf5, read("grid_hdf5.nc")),
        "zstd": (zstd_decompress, read("formula_text_l19.zst")),
        "pdf_images": (parse_pdf_images, read("mixed_images.pdf")),
        "avro": (parse_avro, read("events_deflate.avro")),
        "warc": (parse_warc, read("cc_00.warc.gz")),
    }
    rates = {}
    for name, (decode, buf) in cases.items():
        times: list[float] = []
        while len(times) < 3 or sum(times) < min_seconds:
            t0 = time.perf_counter()
            decode(buf)
            times.append(time.perf_counter() - t0)
        rates[name] = len(buf) / MB / statistics.median(times)
    return rates


def calibration_s(spark, cores: int) -> float:
    """Host-speed anchor: median of three runs of a fixed JVM-only job."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, cores).selectExpr("sum(hash(id))").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)
