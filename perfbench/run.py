"""The repository's benchmark: catalog workloads on local[<cores>].

    python3 perfbench/run.py --workload decode-udf --seed 1 --seconds 30 --trace 0

One client runs the workload's queries in a closed loop: each query is
built (``spec.fn``) and then executed through a noop write before the next
one starts.  A run builds a fresh session, runs a cold pass and a settling
pass, then warm passes until ``--seconds`` have passed, and afterwards
checks the last pass's results against the DuckDB oracle (outside the
timed window).  The seed only permutes the query order of each pass.

``--trace 0`` reports the end-to-end metrics named in BENCHMARK.json.
``--trace 1`` traces the cold pass and every second warm pass (see
tracing.py) and reports the per-layer metrics; the untraced warm passes
in between give ``trace.overhead_frac``.  The last stdout line is the
result object; the line before it carries details (error rate, pass
walls, tail percentile and sample counts, failures).  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from session_setup import ROOT, build_session, confine_to, cores, stop_session  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.1")
FIXTURES = os.path.join(ROOT, "odin_rs_spark", "sources", "fixtures")
MIN_WARM = 2  # warm passes in an untraced run, at least


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# -- process-tree memory -------------------------------------------------------
def tree_memory_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants, as the sum of
    their proportional set sizes: pages shared between the Python daemon
    and the workers it forks count once, not once per process."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        pid = frontier.pop()
        kids = [p for p, pp in parent.items() if pp == pid and p not in tree]
        tree.update(kids)
        frontier.extend(kids)
    kib = 0
    for pid in tree:
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            if pid != root and exe.endswith("/java") and exe == os.readlink(f"/proc/{parent[pid]}/exe"):
                # a helper the JVM is spawning: until it execs it shares the
                # JVM's address space and would count the JVM twice
                continue
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                kib += next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except (OSError, StopIteration):
            pass
    return kib / 1024.0


class MemorySampler:
    """Process-tree memory sampled on a thread twice a second; ``take()``
    returns the peak since the previous call."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            mb = tree_memory_mb(os.getpid())
            with self._lock:
                self._peak = max(self._peak, mb)
            if self._stop.wait(self.interval):
                return

    def take(self) -> float:
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak or tree_memory_mb(os.getpid())  # no sample since the last take

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# -- the closed loop -----------------------------------------------------------
class Runner:
    """Runs passes over a workload's queries and records what they cost."""

    def __init__(self, spark, specs: dict, sf_dir: str, tracer=None):
        self.spark = spark
        self.specs = specs
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.latencies: list[float] = []  # per query, untraced warm passes
        self.last: dict = {}  # query -> DataFrame of the latest pass

    def _query(self, name: str, traced: bool):
        spec = self.specs[name]
        if not traced:
            df = spec.fn(self.spark, self.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return df
        with self.tracer.query(name):
            with self.tracer.phase("build"):
                df = spec.fn(self.spark, self.sf_dir)
            with self.tracer.phase("exec"):
                df.write.format("noop").mode("overwrite").save()
        return df

    def run_pass(self, index: int, order: list[str], traced: bool, warm: bool) -> float:
        t0 = time.perf_counter()
        with self.tracer.traced_pass(index) if traced else nullcontext():
            for name in order:
                self.attempted += 1
                q0 = time.perf_counter()
                try:
                    self.last[name] = self._query(name, traced)
                except Exception as exc:  # noqa: BLE001 — one query must not end the run
                    self.last[name] = None
                    first = (str(exc).strip().splitlines() or [""])[0][:200]
                    self.failures.append(f"pass {index} {name}: {type(exc).__name__}: {first}")
                    print(f"perfbench: {self.failures[-1]}", file=sys.stderr)
                    continue
                if warm and not traced:
                    self.latencies.append(time.perf_counter() - q0)
        return time.perf_counter() - t0

    def run(self, seed: int, seconds: float) -> dict:
        """A cold pass, an untraced settling pass, then warm passes until
        ``seconds`` have passed since the cold pass started.  With a tracer
        the cold pass is traced and warm passes alternate untraced/traced,
        ending on a traced one."""
        rng = random.Random(seed)
        names = list(self.specs)

        def order() -> list[str]:
            rng.shuffle(names)
            return list(names)

        traced_run = self.tracer is not None
        deadline = time.perf_counter() + seconds
        walls: dict[bool, list[float]] = {False: [], True: []}
        memory_mb: list[float] = []  # peak of each untraced warm pass
        with MemorySampler() as memory:
            cold = self.run_pass(0, order(), traced_run, warm=False)
            # JIT and caches keep warming through the second pass
            settle = self.run_pass(1, order(), False, warm=False)
            memory.take()
            while True:
                traced = traced_run and len(walls[True]) < len(walls[False])
                index = 2 + len(walls[False]) + len(walls[True])
                walls[traced].append(self.run_pass(index, order(), traced, warm=True))
                peak = memory.take()
                if not traced:
                    memory_mb.append(peak)
                if traced_run:
                    done = len(walls[True]) == len(walls[False]) >= 1
                else:
                    done = len(walls[False]) >= MIN_WARM
                if done and time.perf_counter() >= deadline:
                    break
        return {
            "cold": cold, "settle": settle, "warm": walls[False], "warm_traced": walls[True],
            "warm_memory_mb": memory_mb,
        }

    def check_outputs(self) -> None:
        """Compare each query's latest result with the DuckDB oracle."""
        from tests.oracle import compare, duckdb_con

        con = duckdb_con(self.sf_dir)
        try:
            for name, df in self.last.items():
                if df is None:
                    continue  # already counted as a failure
                try:
                    ok, msg = compare(df, con, self.specs[name].sql)
                except Exception as exc:  # noqa: BLE001
                    ok, msg = False, f"{type(exc).__name__}: {exc}"
                if not ok:
                    self.failures.append(f"oracle {name}: {msg[:300]}")
                    print(f"perfbench: {self.failures[-1]}", file=sys.stderr)
        finally:
            con.close()


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples beyond it,
    never below the median."""
    return max(50, (100 * (n - 10)) // n) if n else 50


def quantile(values: list[float], pct: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, -(-pct * len(s) // 100) - 1)]


# -- one run -------------------------------------------------------------------
def run_workload(spark, workload, seed, seconds, trace, sf_dir, setup, specs=None):
    """Measure one workload on a freshly built session; returns
    ``(result, details)``.  ``setup`` is the session's
    ``(get_spark_s, setup_s)``; ``specs`` replaces the workload's catalog
    entries (the tests use it to inject a query that returns wrong rows)."""
    from odin_rs_spark.plans.catalog import CATALOG

    from tracing import CODECS, Tracer, calibration_s, codec_rates

    if specs is None:
        specs = {name: CATALOG[name] for name in WORKLOADS[workload]}
    tracer = Tracer(spark, workload, tempfile.gettempdir()) if trace else None
    runner = Runner(spark, specs, sf_dir, tracer)
    walls = runner.run(seed, seconds)
    t0 = time.perf_counter()
    runner.check_outputs()
    oracle_s = time.perf_counter() - t0

    n_lat = len(runner.latencies)
    tail = tail_percentile(n_lat)
    if tracer is None:
        metrics = {
            "setup_s": setup[1],
            "cold_wall_s": walls["cold"],
            "wall_s": statistics.median(walls["warm"]),
            "query_p50_s": quantile(runner.latencies, 50),
            "query_tail_s": quantile(runner.latencies, tail),
            "peak_rss_mb": statistics.median(walls["warm_memory_mb"]),
        }
    else:
        n = cores()
        metrics = tracer.layer_metrics(n)
        metrics["session.get_spark_s"] = setup[0]
        metrics["host.calibration_s"] = calibration_s(spark, n)
        metrics["trace.overhead_frac"] = (
            statistics.median(walls["warm_traced"]) / statistics.median(walls["warm"]) - 1
        )
        rates = codec_rates(FIXTURES) if workload == "decode-udf" else {}
        for codec in CODECS:
            # 0 where the probe does not run
            metrics[f"sources.codec_{codec}_mb_s"] = rates.get(codec, 0.0)
        traces = os.path.join(HERE, ".work", "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(os.path.join(traces, f"{workload}-seed{seed}.json"))

    failed = len(runner.failures)
    details = {
        "workload": workload,
        "seed": seed,
        "trace": int(bool(trace)),
        "queries": list(specs),
        "passes": walls,
        "oracle_s": oracle_s,
        "error_rate": failed / runner.attempted,
        "tail_percentile": tail,
        "latency_samples": n_lat,
        "failures": runner.failures,
    }
    result = {"correct": failed == 0, "attempted": runner.attempted, "failed": failed, "metrics": metrics}
    return result, details


def emit(result: dict, details: dict, declared: list[dict]) -> None:
    """Print the details line, then the result with the declared metrics."""
    metrics = result["metrics"]
    out = dict(result, metrics={m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared})
    print(json.dumps(details))
    print(json.dumps(out))


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    if not os.path.isfile(os.path.join(ROOT, "odin_rs_spark", "plans", "catalog.py")):
        print(f"perfbench: no odin_rs_spark package under {ROOT}", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA):
        print(f"perfbench: no input tables at {DATA}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    confine_to(work)
    try:
        spark, get_spark_s, setup_s = build_session()
        try:
            result, details = run_workload(
                spark, args.workload, args.seed, args.seconds, args.trace, DATA,
                (get_spark_s, setup_s),
            )
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    emit(result, details, declared)
    return 0


if __name__ == "__main__":
    sys.exit(main())
