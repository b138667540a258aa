"""Repository benchmark: construct-plus-execute passes over the entry
module's queries.

    python3 perfbench/run.py --workload geo_toolbox --seed 3 --seconds 20 --trace 0

Load model: one process is one caller in a closed loop. It runs the
workload's queries in order, one at a time, on ``local[nproc]``:

1. set-up, three times: start the session, ship the package and warm
   the Python workers (``setup_s`` is the median; the first start also
   launches the JVM);
2. one untimed warm pass over the queries on a tenth-size input of the
   same seed, so JIT, codegen and worker imports are warm; the oracle
   rows are computed beside it;
3. a fixed number of timed passes, so both sides of a comparison rest on
   the same number of samples; ``--seconds`` is the measured time the
   run is sized for, and a run that measures much longer says so on
   stderr.
   Each pass reads its own copy of the input at a distinct path, because
   the package memoizes per-dataset artifacts (minhash index, substrate
   fold, SpatiaLite file) by input path. Caches are released at the
   start of each pass, not between queries.

Every time the run reports is wall time less the share of CPU ticks
the hypervisor stole while it ran (``procstat.Stopwatch``); on a host
that steals nothing it is plain wall time. The raw wall time and the
stolen share of each pass are printed on stderr.

Inputs come from ``datagen`` and depend only on ``--seed``. Every timed
result is checked against its DuckDB oracle after its pass, outside the
timed interval. With ``--trace 1`` the run also records spans and the
Spark event log and prints the per-layer metrics instead of the
end-to-end ones. The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3
# The warm pass pays the cold costs (JIT, codegen, worker imports), which
# do not grow with the input, so it runs on a tenth of the rows.
WARM_SCALE = 0.1
# A run is about a minute, too short for the C2 compiler to settle: with
# C1 only, JIT work ends within the warm pass instead of adding compiler
# CPU to the timed passes. JVM-side figures are therefore C1 figures,
# slower than a default tiered JVM's. A fixed heap size keeps the JVM's
# resident size from following the collector's resizing decisions.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:-UsePerfData"]
MB = 1024 * 1024

# A timed pass is about 7 s (geo_toolbox) or 10 s (search_ingest) on 4
# cores, so that three set-ups (about 23 s), a warm pass (about twice a
# timed one: cold JIT), two timed passes and the output check take about
# a minute.
WORKLOADS = {
    # The paper's own surface: geometry Arrow kernels (borders, random
    # points in polygons) and operators joins, grids, dissolve and
    # curve keys. Reads no text and writes no files.
    "geo_toolbox": [
        "make_grid", "intersects_pairs", "shared_border",
        "dissolve_country", "random_pts_poly", "crs_mercator",
        "hilbert_keys",
    ],
    # Similarity search and ingest: the Aho-Corasick blocklist scan, IVF
    # top-k and a two-round Lloyd k-means (an iterative plan over a
    # tracked persist) over the embeddings, a codec that writes and
    # re-reads, a streaming drain that keeps state and a media decode.
    # Touches no geometry kernel.
    "search_ingest": [
        "banned_phrase_hits_ac", "ann_ivf_topk", "embedding_clusters",
        "csv_roundtrip", "stream_dedup", "media_features",
    ],
}
# Timed passes per run, fixed so that both sides of a comparison rest on
# the same number of samples.
TIMED_PASSES = 2


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _host_heap_mb() -> int:
    """An eighth of MemTotal, between 1 and 16 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal"))
    return max(1024, min(16384, total_kb // 8192))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for n in files:
            try:
                total += os.lstat(os.path.join(root, n)).st_size
            except OSError:
                pass
    return total


def _warm_workers(batches):
    # loads the shipped package, pandas and pyarrow in each Python worker
    import gpd_lite_toolbox_spark.geometry.kernels  # noqa: F401

    yield from batches


class Session:
    """Host-fit local session; every file it writes stays in ``run_dir``."""

    def __init__(self, run_dir: str, trace: bool):
        self.run_dir = run_dir
        self.trace = trace
        self.nproc = len(os.sched_getaffinity(0))
        self.eventlog_dir = os.path.join(run_dir, "eventlog")
        self.spark = None
        self._old = []  # stopped sessions stay referenced: ids are memo keys

    def start(self):
        from pyspark.sql import SparkSession

        from gpd_lite_toolbox_spark.deploy import ship_package

        if self.spark is not None:
            self.spark.stop()
            self._old.append(self.spark)
        tmp = os.path.join(self.run_dir, "tmp")
        heap = _host_heap_mb()
        b = (
            SparkSession.builder.master(f"local[{self.nproc}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(self.nproc))
            .config("spark.driver.memory", f"{heap}m")
            .config("spark.driver.extraJavaOptions", " ".join(JVM_FLAGS + [
                f"-Xms{heap}m", f"-Djava.io.tmpdir={tmp}"]))
            .config("spark.sql.warehouse.dir",
                    os.path.join(self.run_dir, "warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        )
        if self.trace:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", "file://" + self.eventlog_dir)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        ship_package(self.spark)
        (self.spark.range(2 * self.nproc, numPartitions=self.nproc)
         .mapInPandas(_warm_workers, "id long").count())
        return self.spark

    def stop(self) -> None:
        """Stop the session, the JVM and every process they started."""
        from pyspark import SparkContext

        from procstat import descendants

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:  # the JVM exits when this pipe closes
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        for pid in descendants():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.time() + 30
        while time.time() < deadline:
            try:  # reap our own children; the others belong to init
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            if not descendants():
                break
            time.sleep(0.1)


class Runner:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.queries = WORKLOADS[args.workload]
        self.tracer = None
        self.failures: list[str] = []
        self.attempted = 0
        self.passes: list[dict] = []
        self.cache_samples: list[tuple[float, int]] = []
        self.sqls: dict[str, str] = {}

    # -- one pass ----------------------------------------------------------
    def _span(self, name, kind):
        if self.tracer is None:
            from contextlib import nullcontext

            return nullcontext()
        return self.tracer.span(name, kind)

    def run_pass(self, spark, Q, data_dir: str, tag: str, oracle=None):
        from gpd_lite_toolbox_spark.cache import release_caches
        from procstat import Stopwatch, tree_usage

        path = os.path.join(self.run_dir, "inputs", f"in-{tag}-{os.getpid()}")
        shutil.copytree(data_dir, path)
        rec = {"tag": tag, "queries": {}, "results": {}}
        constructs, execs = [], []
        with self._span(tag, "pass"):
            cpu0 = tree_usage()[0]
            with Stopwatch() as whole:
                rec["released"] = release_caches()
                spark.catalog.clearCache()
                for name in self.queries:
                    q = {"construct_s": 0.0, "exec_s": 0.0, "error": None}
                    c, e = Stopwatch(), Stopwatch()
                    with self._span(name, "query"):
                        try:
                            with self._span("construct", "phase"), c:
                                df = Q[name](spark, path)
                            with self._span("exec", "phase"), e:
                                rec["results"][name] = df.toPandas()
                        except Exception:  # a failed query is counted, not fatal
                            q["error"] = traceback.format_exc(limit=3)
                    q["construct_s"], q["exec_s"] = c.seconds, e.seconds
                    constructs.append(c)
                    execs.append(e)
                    if self.tracer is not None:
                        self.cache_samples.append(
                            (time.time(), _held_bytes(spark)))
                    rec["queries"][name] = q
            rec["cpu_s"] = tree_usage()[0] - cpu0
        # phases are adjusted by their pooled ticks: one query's phase can
        # be shorter than a few clock ticks
        rec["wall_s"] = whole.seconds
        rec["construct_s"] = Stopwatch(*constructs).seconds
        rec["exec_s"] = Stopwatch(*execs).seconds
        rec["steal_share"] = whole.steal_share
        print(f"pass {tag}: {rec['wall_s']:.2f} s ({whole.wall:.2f} s wall, "
              f"{whole.steal_share:.0%} stolen) "
              + " ".join(f"{n}={q['construct_s']:.2f}+{q['exec_s']:.2f}"
                         for n, q in rec["queries"].items()), file=sys.stderr)
        if oracle is not None:
            self._check(rec, oracle)
        rec.pop("results")
        return rec

    def _check(self, rec: dict, oracle) -> None:
        for name, q in rec["queries"].items():
            self.attempted += 1
            if q["error"] is None:
                try:
                    ok = oracle.matches(rec["results"][name], self.sqls[name])
                except Exception:
                    q["error"] = traceback.format_exc(limit=3)
                else:
                    q["error"] = None if ok else "result differs from oracle"
            if q["error"] is not None:
                self.failures.append(f"{rec['tag']}/{name}: {q['error']}")

    # -- the run -----------------------------------------------------------
    def run(self) -> dict:
        import datagen
        from check import Oracle, prefetch
        from procstat import PeakRss, Stopwatch

        seed = self.args.seed
        data_dir = datagen.write(seed, os.path.join(WORK, "data", f"s{seed}"))
        warm_dir = datagen.write(
            seed, os.path.join(WORK, "data", f"s{seed}-warm"), WARM_SCALE)
        oracle_dir = os.path.join(WORK, "oracle")
        oracle = Oracle(data_dir, oracle_dir)

        sess = Session(self.run_dir, bool(self.args.trace))
        try:
            setups = []
            for _ in range(SETUPS):
                with Stopwatch() as sw:
                    spark = sess.start()
                setups.append(sw.seconds)
            print("setup", " ".join(f"{s:.2f}" for s in setups), file=sys.stderr)
            import __spark_entry__ as E

            if self.args.trace:
                from spans import Tracer

                self.tracer = Tracer(spark.sparkContext)
                self.tracer.instrument("gpd_lite_toolbox_spark", [E])
            Q = E.queries()
            self.sqls = E.oracle_sql()
            with self._span("run", "run"):
                # oracle rows are computed while the untimed warm pass runs
                child = prefetch(data_dir, oracle_dir,
                                 [self.sqls[q] for q in self.queries])
                self.run_pass(spark, Q, warm_dir, "warm")
                if child.wait() != 0:  # the check recomputes and reports
                    print("oracle prefetch failed", file=sys.stderr)
                tmp = os.path.join(self.run_dir, "tmp")
                tmp0 = _dir_bytes(tmp)
                with PeakRss() as rss:
                    for i in range(TIMED_PASSES):
                        self.passes.append(self.run_pass(
                            spark, Q, data_dir, f"timed{i}", oracle))
                measured = sum(p["wall_s"] for p in self.passes)
                if measured > 2 * self.args.seconds:
                    print(f"timed passes took {measured:.1f} s, more than "
                          f"twice --seconds", file=sys.stderr)
                tmp_left = (_dir_bytes(tmp) - tmp0) / len(self.passes)
            app_id = spark.sparkContext.applicationId
        finally:
            oracle.close()
            sess.stop()

        out = {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
        }
        if self.args.trace:
            from layers import per_layer

            log_path = os.path.join(sess.eventlog_dir, app_id)
            metrics, report = per_layer(
                log_path, self.tracer.spans, self.passes, self.queries,
                self.cache_samples, tmp_left)
            metrics["trace.wall_s"] = (_med(self.passes, "wall_s"), "s")
            metrics["host.steal_share"] = (
                _med(self.passes, "steal_share"), "ratio")
            _print_report(report)
            with open(os.path.join(
                    WORK, f"trace-{self.args.workload}-s{seed}.json"), "w") as f:
                json.dump({"spans": self.tracer.spans, "queries": report}, f)
            out["metrics"] = {k: {"value": v[0], "unit": v[1]}
                              for k, v in metrics.items()}
        else:
            out["metrics"] = {
                "wall_s": {"value": _med(self.passes, "wall_s"), "unit": "s"},
                "construct_s": {"value": _med(self.passes, "construct_s"),
                                "unit": "s"},
                "exec_s": {"value": _med(self.passes, "exec_s"), "unit": "s"},
                "cpu_s": {"value": _med(self.passes, "cpu_s"), "unit": "s"},
                "peak_rss_mb": {"value": rss.peak / MB, "unit": "MB"},
                "setup_s": {"value": statistics.median(setups), "unit": "s"},
            }
        for f in self.failures:
            print("FAILED", f, file=sys.stderr)
        return out


def _med(passes, key):
    return statistics.median(p[key] for p in passes)


def _held_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _print_report(report: dict) -> None:
    """One line per query: its phases and the jobs its construction ran."""
    print(f"{'query':24s} {'construct_s':>11s} {'exec_s':>7s} {'exch':>4s} "
          f"{'jobs':>4s}  construct jobs by launcher")
    for name, r in report.items():
        launchers: dict[str, int] = {}
        for j in r["construct_jobs"]:
            desc = (j["desc"] or "").splitlines()[0] if j["desc"] else "?"
            key = desc.split("/", 2)[2] if desc.count("/") >= 2 else desc
            launchers[key] = launchers.get(key, 0) + 1
        print(f"{name:24s} {r['construct_s']:11.3f} {r['exec_s']:7.3f} "
              f"{r['final_exchanges']:4d} {len(r['construct_jobs']):4d}  "
              + ", ".join(f"{k} x{v}" for k, v in launchers.items()))


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no __spark_entry__.py under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # spark-submit's launcher JVM, which builds the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    t0 = time.perf_counter()
    try:
        result = Runner(args, run_dir).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"run took {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
