"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload {interchange,executed}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Everything it writes goes under
``.perfbench/`` there: the generated tables, Spark's local and temp dirs,
and, with ``--trace 1``, the span file ``.perfbench/out/trace-*.json``.

A run, in order:

1. generates the workload's tables from ``--seed`` (``datagen.py``; the
   interchange tables are fixed, see ``workloads.table_seed``);
2. sets up three times — start a SparkSession at ``local[<cores>]``,
   register the tables through ``sources.catalog``, read one row of each —
   and reports the median as ``setup_s`` (the first set-up also launches
   the JVM; later ones reuse it);
3. checks every item once against an independent reference (DuckDB for
   ``executed`` items, see ``reference.py``; Spark running the SQL directly
   for ``interchange`` items); this pass is also the warm-up;
4. runs timed passes over the items, each in an order drawn from
   ``--seed``: as many as fit ``--seconds`` at the workload's nominal pass
   time, at least one. With ``--trace 1`` it runs four passes instead,
   untraced and traced in the order U T T U. One client, closed loop: an
   item starts when the previous one has finished.

With ``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` the per-layer metrics (see ``BENCHMARK.json``): layer self
times from spans, py4j round trips, Spark task metrics and the plan
fingerprint (``sparkstats.py``). End-to-end metrics come from untraced
passes only; only ``--trace 1`` counts py4j commands or reads Spark's
status stores. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
describes the host.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import random
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3
WORKLOADS = ("interchange", "executed")
# Seconds one warm pass of each workload takes on a 4-core host. A run
# times round(--seconds / this) passes, at least one: a fixed count, so
# every run measures the same passes of a JVM that is still warming up.
# Both keep getting faster while the JIT compiles: an interchange pass (a
# few thousand short JVM calls) for some ten passes, 2.4 s after the check
# pass and 1.3-2.0 s from the fifth on; an executed pass from ~10 s to ~7 s
# by the fourth.
NOMINAL_PASS_S = {"interchange": 2.0, "executed": 10.5}

# span name → per-layer metric name (self time per pass, in ms)
LAYER_METRICS = {
    "analyze": "analyze.ms", "producer": "producer.ms",
    "wire.encode": "wire.encode_ms", "wire.decode": "wire.decode_ms",
    "consumer": "consumer.ms", "physical": "physical.ms",
    "proto.dumps": "proto.dumps_ms", "proto.loads": "proto.loads_ms",
    "build": "build.ms", "execute": "execute.ms",
}


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:6.1f}s]: {msg}",
          file=sys.stderr, flush=True)


def _quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1])."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _own_cpu_s() -> float:
    """User+system CPU seconds of this (the Python driver) process."""
    t = os.times()
    return t.user + t.system


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _heap_mb() -> int:
    """An eighth of physical memory, between 1 and 4 GiB."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return max(1024, min(4096, total // 8))


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _prepare_env() -> None:
    """Keep every file Spark, py4j and the Python workers write inside the
    checkout, and let the workers import the package."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _session():
    from pyspark.sql import SparkSession

    cores, heap = _cores(), _heap_mb()
    tmp = os.path.join(WORK, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", f"{heap}m")
        # a fixed-size heap, so the JVM's resident size follows the work
        # rather than when the collector chose to grow the heap; compiler
        # threads that live as long as the JVM, so the JIT's CPU time can
        # be read from them (see sparkstats.ProcessTree)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                "-XX:-UseDynamicNumberOfCompilerThreads")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # PySpark's per-call error-context capture; off, as in bench.py
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Run:
    def __init__(self, args, data_dir: str) -> None:
        self.args = args
        self.data_dir = data_dir
        self.spark = None
        self.reference_proc: subprocess.Popen | None = None
        self.attempted = 0
        self.failed = 0

    # -- set-up ------------------------------------------------------------

    def setup(self) -> tuple[float, float]:
        """Median set-up seconds and median catalog-registration seconds."""
        from datafusion_substrait_spark.sources.catalog import register_testdata

        totals, catalog = [], []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = _session()
            t1 = time.perf_counter()
            tables = register_testdata(self.spark, self.data_dir)
            t2 = time.perf_counter()
            for df in tables.values():
                df.limit(1).collect()
            totals.append(time.perf_counter() - t0)
            catalog.append(t2 - t1)
        _log(f"set-ups {[round(t, 3) for t in totals]} s")
        return statistics.median(totals), statistics.median(catalog)

    # -- output checks ------------------------------------------------------

    def _start_reference(self, items: tuple[str, ...]) -> None:
        self.reference_proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "reference.py"),
             self.data_dir, *items],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=ROOT)

    def _reference(self) -> dict:
        out, err = self.reference_proc.communicate(timeout=150)
        if self.reference_proc.returncode != 0:
            raise RuntimeError(f"reference.py failed:\n{err[-2000:]}")
        return json.loads(out.strip().splitlines()[-1])

    def check(self, wl) -> list[str]:
        """Run every item once, compare with its reference; return the
        names that failed. Doubles as the warm-up pass."""
        from perfbench.reference import compare

        if wl.name != "interchange":
            self._start_reference(wl.items)
        got: dict[str, dict | None] = {}
        want: dict[str, dict | None] = {}
        for item in wl.items:
            try:
                got[item], want[item] = wl.verify(self.spark, item, self.data_dir)
            except Exception:  # an item that raises fails its check
                _log(f"check {item} raised:\n{traceback.format_exc()}")
                got[item] = None
        if self.reference_proc is not None:
            want = self._reference()
        wl.take_times()
        bad = []
        for i in wl.items:
            ok, near = compare(got[i], want.get(i))
            if not ok:
                bad.append(i)
                _log(f"check FAILED for {i}")
            elif near:
                _log(f"check {i}: {near} value(s) one unit apart in the last "
                     "rounded decimal")
        _log(f"checked {len(wl.items)} items, {len(bad)} failed")
        self.attempted += len(wl.items)
        self.failed += len(bad)
        return bad

    # -- timed passes -------------------------------------------------------

    def passes(self, wl, tracer, counter, status) -> list[dict]:
        from perfbench import sparkstats
        from perfbench.spans import patched

        rng = random.Random(self.args.seed)
        ptree = sparkstats.ProcessTree()
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        bindings = wl.plan_bindings(self.spark) if self.args.trace else []
        for pid in (os.getpid(), jvm_pid):
            sparkstats.reset_peak_rss(pid)
        # traced runs alternate untraced/traced/traced/untraced, so both
        # kinds sit at the same mean position in the warm-up
        kinds = [False, True, True, False] if self.args.trace else \
            [False] * max(1, round(self.args.seconds / NOMINAL_PASS_S[wl.name]))
        out: list[dict] = []
        for traced in kinds:
            order = rng.sample(wl.items, len(wl.items))
            item_s: dict[str, float] = {}
            # start every pass from collected heaps, so garbage of the
            # previous pass is not collected on this one's time
            gc.collect()
            self.spark._jvm.java.lang.System.gc()
            calls0 = counter.snapshot() if counter else (0, 0)
            (cpu0, jit0), py0 = ptree.cpu_s(), _own_cpu_s()
            tracer.enabled = traced
            with patched(bindings if traced else []):
                t0 = time.perf_counter()
                for item in order:
                    ti = time.perf_counter()
                    try:
                        with tracer.span("item", item):
                            wl.run(self.spark, item, self.data_dir)
                    except Exception:  # counted as failed; the pass goes on
                        _log(f"{item} raised:\n{traceback.format_exc()}")
                        self.failed += 1
                    item_s[item] = time.perf_counter() - ti
                wall = time.perf_counter() - t0
            tracer.enabled = False
            (cpu, jit), py_cpu = ptree.cpu_s(), _own_cpu_s() - py0
            cpu, jit = cpu - cpu0, jit - jit0
            calls1 = counter.snapshot() if counter else (0, 0)
            roots, counts = tracer.take()
            export_s, import_s = wl.take_times()
            self.attempted += len(order)
            out.append({
                "traced": traced, "wall_s": wall, "cpu_s": cpu, "jit_cpu_s": jit,
                "py_cpu_s": py_cpu,
                "item_s": item_s, "export_s": export_s, "import_s": import_s,
                "py4j_calls": calls1[0] - calls0[0],
                "py4j_detaches": calls1[1] - calls0[1],
                "spans": roots, "counts": counts,
                "spark": status.read() if status else {},
            })
            _log(f"pass {len(out)} {'traced' if traced else 'untraced'} "
                 f"{wall:.3f} s, cpu {cpu:.3f} s; " + " ".join(
                     f"{i}={item_s[i]:.3f}" for i in wl.items))
        out[0]["py_peak_rss_mb"] = sparkstats.peak_rss_mb(os.getpid())
        out[0]["jvm_peak_rss_mb"] = sparkstats.peak_rss_mb(jvm_pid)
        return out

    def host(self) -> dict:
        import pyspark

        jvm = self.spark._jvm
        return {"cores": _cores(), "cpu_model": _cpu_model(),
                "spark": self.spark.version, "pyspark": pyspark.__version__,
                "java": jvm.java.lang.System.getProperty("java.version"),
                "python": platform.python_version(),
                "driver_heap_mb": _heap_mb()}

    def close(self) -> None:
        """Stop Spark, its JVM and the reference process; wait for each."""
        if self.reference_proc is not None and self.reference_proc.poll() is None:
            self.reference_proc.kill()
            self.reference_proc.wait()
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def end_to_end(setup_s: float, passes: list[dict]) -> dict[str, tuple[float, str]]:
    plain = [p for p in passes if not p["traced"]]
    # Each item's fastest timed run, summed: the host's other tenants only
    # ever add time to a run, in bursts (CPU steal, a busy sibling core)
    # that last longer than one item but rarely a whole pass of them.
    fastest = sum(min(p["item_s"][i] for p in plain) for i in plain[0]["item_s"])
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (fastest, "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in plain), "s"),
        "py_peak_rss_mb": (passes[0]["py_peak_rss_mb"], "MB"),
        "jvm_peak_rss_mb": (passes[0]["jvm_peak_rss_mb"], "MB"),
    }


def per_layer(catalog_s: float, passes: list[dict], failed_checks: int,
              n_items: int) -> dict[str, tuple[float, str]]:
    from perfbench import workloads
    from perfbench.spans import self_times

    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    med = statistics.median
    out: dict[str, tuple[float, str]] = {"catalog.ms": (1e3 * catalog_s, "ms")}

    layer_secs, layer_calls, unattributed, covered = [], [], 0.0, 0.0
    for p in traced:
        secs, calls = self_times(p["spans"])
        layer_secs.append(secs)
        layer_calls.append(calls)
        unattributed += secs.get("item", 0.0)
        covered += sum(s.end - s.start for s in p["spans"])
    for span, metric in LAYER_METRICS.items():
        out[metric] = (1e3 * med(s.get(span, 0.0) for s in layer_secs), "ms")
    for layer in ("producer", "consumer"):
        out[f"{layer}.py4j_calls"] = (
            float(med(c.get(layer, 0) for c in layer_calls)), "count")
    for name in ("wire.bytes", "proto.bytes"):
        out[name] = (float(med(p["counts"].get(name, 0) for p in traced)), "bytes")
    out["py4j.calls"] = (float(med(p["py4j_calls"] for p in plain)), "count")
    out["py4j.detaches"] = (float(med(p["py4j_detaches"] for p in plain)), "count")

    for key in passes[0]["spark"]:
        unit = ("s" if key.endswith("_s") else "MB" if key.endswith("_mb")
                else "count")
        out[key] = (float(med(p["spark"][key] for p in passes)), unit)

    out["py.cpu_s"] = (med(p["py_cpu_s"] for p in plain), "s")
    out["jvm.jit_cpu_s"] = (med(p["jit_cpu_s"] for p in plain), "s")
    items = [s for p in plain for s in p["item_s"].values()]
    out["item.ms_p50"] = (1e3 * _quantile(items, 0.5), "ms")
    out["item.ms_p90"] = (1e3 * _quantile(items, 0.9), "ms")
    exports = [s for p in plain for s in p["export_s"]]
    imports = [s for p in plain for s in p["import_s"]]
    for name, xs in (("export", exports), ("import", imports)):
        out[f"{name}.ms_p50"] = (1e3 * _quantile(xs, 0.5) if xs else 0.0, "ms")
        out[f"{name}.ms_p90"] = (1e3 * _quantile(xs, 0.9) if xs else 0.0, "ms")

    for item in workloads.RELATIONAL + workloads.PIPELINES:
        xs = [p["item_s"][item] for p in plain if item in p["item_s"]]
        out[f"item.{item}.s"] = (med(xs) if xs else 0.0, "s")

    base = med(p["wall_s"] for p in plain)
    out["trace.overhead_frac"] = (
        (med(p["wall_s"] for p in traced) - base) / base, "ratio")
    out["trace.unattributed_frac"] = (unattributed / covered, "ratio")
    out["check.failed_frac"] = (failed_checks / n_items, "ratio")
    return out


def write_trace(path: str, host: dict, args, passes: list[dict]) -> None:
    from perfbench.spans import to_records

    os.makedirs(os.path.dirname(path), exist_ok=True)
    doc = {"host": host, "workload": args.workload, "seed": args.seed,
           "passes": [], "spans": []}
    for n, p in enumerate(passes):
        doc["passes"].append({k: v for k, v in p.items() if k != "spans"})
        doc["spans"].extend(to_records(p["spans"], n, len(doc["spans"])))
    with open(path, "w") as fh:
        json.dump(doc, fh)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "datafusion_substrait_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        _log(f"no datafusion_substrait_spark checkout at {ROOT}")
        return 2
    _prepare_env()

    from perfbench import datagen, sparkstats, workloads
    from perfbench.spans import Py4jCounter, Tracer

    data_dir = datagen.ensure_dataset(
        os.path.join(WORK, "data"), workloads.table_seed(args.workload, args.seed),
        workloads.SCALES[args.workload])
    _log(f"tables at {data_dir}")
    run = Run(args, data_dir)
    try:
        setup_s, catalog_s = run.setup()
        counter = None
        if args.trace:
            counter = Py4jCounter(run.spark.sparkContext._gateway._gateway_client)
            counter.install()
        tracer = Tracer(counter)
        wl = workloads.make(args.workload, ROOT, tracer)
        bad = run.check(wl)
        status = sparkstats.StatusReader(run.spark) if args.trace else None
        passes = run.passes(wl, tracer, counter, status)
        host = run.host()
        if args.trace:
            metrics = per_layer(catalog_s, passes, len(bad), len(wl.items))
            write_trace(os.path.join(WORK, "out",
                                     f"trace-{args.workload}-seed{args.seed}.json"),
                        host, args, passes)
        else:
            metrics = end_to_end(setup_s, passes)
    finally:
        run.close()
    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
