"""Benchmark of the recommender-systems Spark engine.

    python3 perfbench/run.py --workload recsys_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. One closed-loop client: a single driver
thread calls ``registry.QUERIES[name](spark, data_dir)`` and fetches the
result (``toPandas``) before it issues the next query; a query's latency
runs from that call to the end of the fetch. The session is
``get_spark()`` with program defaults, at ``local[<cores>]``. Workloads,
their fixed query lists and why each was chosen are in
``workloads.json``.

A run:

1. generates the inputs for ``--seed`` at the workload's scale
   (``gen.py``) and runs the DuckDB oracles of the workload's queries,
   outside any timed window;
2. sets up from nothing: the engine import, ``session.get_spark``
   (which launches the JVM), ``deploy.ensure_shipped`` (which builds
   the package zip) and the warm-up query, as a user's first set-up
   does. One set-up costs more than 10 s on a 4-core VM, so a run
   makes only this one;
3. runs passes over the workload's fixed query list until ``--seconds``
   is spent (at least one pass). Each pass first wipes the
   ``.data_cache`` artifacts built from this run's inputs, so the first
   execution of an artifact-owning query builds its artifact (the cold
   leg); the queries in ``warm_rerun`` then run again at the end of the
   pass and read it (the warm leg);
4. checks every output (``check.py``). Garbage collection,
   ``clearCache`` and a JVM ``System.gc()`` run between queries, outside
   the timed windows.

End-to-end metrics, medians over the passes of a run:

- ``wall_s``: the sum of a pass's query latencies;
- ``cpu_s``: CPU seconds of this process, the JVM and its Python
  workers inside those latency windows;
- ``setup_s``: the set-up;
- ``driver_peak_rss_mb``: peak resident memory of the JVM plus that of
  this process.

The last line of standard output is one JSON object: ``correct``,
``attempted`` and ``failed`` count query executions, and ``metrics``
holds the end-to-end metrics or, with ``--trace 1``, the per-layer
metrics of a traced run (``instruments.py``). Spans of a traced run are
written to ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CACHE_ROOT = os.path.join(ROOT, ".data_cache")  # where the engine keeps derived artifacts
WARMUP_QUERY = "flagship_top_customers"


def load_workloads() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)["workloads"]


def parse_args(argv, workloads):
    p = argparse.ArgumentParser(description="Benchmark of the recommender-systems Spark engine.")
    p.add_argument("--workload", required=True, choices=sorted(workloads))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    return args


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:  # removed while walking
                pass
    return total


def wipe_own_artifacts(cache_root: str, sf_dir: str) -> list[str]:
    """Remove the derived-artifact dirs whose ``MANIFEST.jsonl`` entry
    names ``sf_dir`` as their source, and nothing else."""
    try:
        with open(os.path.join(cache_root, "MANIFEST.jsonl")) as fh:
            lines = fh.readlines()
    except FileNotFoundError:
        return []
    removed = []
    for line in lines:
        try:
            entry = json.loads(line)
            name, source = entry["dir"], entry["sf_dir"]
        except (json.JSONDecodeError, KeyError, TypeError):
            continue
        path = os.path.join(cache_root, name)
        if os.path.abspath(source) == os.path.abspath(sf_dir) and os.path.isdir(path):
            shutil.rmtree(path)
            removed.append(name)
    return removed


def remove_table_copies(cache_root: str, sf_dir: str) -> None:
    """Remove the engine's timestamp-normalised copy of ``sf_dir``'s
    events table and the stream source dir built from it. They sit
    outside the manifest, named by the digest of the table's path, and
    would otherwise let a later run on the same seed skip writing them."""
    digest = hashlib.sha1(f"{sf_dir}/events.parquet".encode()).hexdigest()[:12]
    for name in (f"{digest}.parquet", f"{digest}_streamdir"):
        path = os.path.join(cache_root, name)
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used by ``root_pid`` and its live descendants, plus
    the children they have reaped (Python workers forked by the JVM)."""
    ticks = os.sysconf("SC_CLK_TCK")
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        procs[int(entry)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return total / ticks


def stop(spark) -> None:
    """Stop the session, then PySpark's JVM, which exits when its stdin
    closes, and wait for it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=120)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in the JVM's /proc status")


class Bench:
    def __init__(self, args, workload: dict, sf_dir: str, checker):
        self.args = args
        self.workload = workload
        self.sf_dir = sf_dir
        self.checker = checker
        self.spark = None
        self.tracer = None
        self.latencies: list[float] = []
        self.pass_walls: list[float] = []
        self.pass_cpu: list[float] = []
        self.cpu = 0.0  # CPU seconds inside the timed windows of the current pass
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.cache_write_mb = 0.0
        self.layer: dict[str, float] = {}
        self.phase: dict[str, float] = {}

    def setup(self, import_s: float) -> None:
        from recommender_systems_spark import deploy, registry
        from recommender_systems_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        deploy.ensure_shipped(self.spark)
        t2 = time.perf_counter()
        registry.QUERIES[WARMUP_QUERY](self.spark, self.sf_dir).collect()
        self.setup_s = import_s + time.perf_counter() - t0
        self.layer["session.get_spark_s"] = t1 - t0
        self.layer["deploy.ensure_shipped_s"] = t2 - t1
        self._between_queries()

    def _between_queries(self) -> None:
        gc.collect()
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()

    def run_query(self, name: str) -> float:
        from recommender_systems_spark import registry

        q = registry.QUERIES[name]
        self.attempted += 1
        got, why = None, None
        cpu0 = self._cpu_s()
        t0 = time.perf_counter()
        try:
            got = q(self.spark, self.sf_dir).toPandas() if self.tracer is None else self._traced(name, q)
        except Exception as exc:  # a failing query is counted, never dropped
            why = f"{type(exc).__name__}: {str(exc).strip().splitlines()[0][:200]}"
        elapsed = time.perf_counter() - t0
        self.cpu += self._cpu_s() - cpu0
        if why is None:
            why = self.checker.check(name, got)
        if why is not None:
            self.failed += 1
            self.failures.setdefault(name, why)
        self.latencies.append(elapsed)
        print(f"perfbench: {name} {elapsed:.3f}s" + (f" FAILED {why}" if why else ""), file=sys.stderr)
        got = None
        self._between_queries()
        return elapsed

    def _traced(self, name: str, q):
        """Run ``q`` as build, plan and execute phases, each a span with
        its own job tag, and add each phase's stage metrics up."""
        tr = self.tracer
        tr.query = name
        root = tr.open("queries.query")
        try:
            sc = self.spark.sparkContext
            for phase in ("build", "plan", "execute"):
                tag = f"perfbench-{phase}"
                sc.addJobTag(tag)  # tags every job this thread submits, SQL or not
                span = tr.open(f"queries.{phase}")
                first = tr.next_job_id()
                try:
                    if phase == "build":
                        df = q(self.spark, self.sf_dir)
                    elif phase == "plan":
                        df._jdf.queryExecution().executedPlan()
                    else:
                        got = df.toPandas()
                finally:
                    tr.close(span)
                    sc.removeJobTag(tag)
                for k, v in tr.job_stats(first, tr.next_job_id(), tag).items():
                    self.phase[f"{phase}.{k}"] = self.phase.get(f"{phase}.{k}", 0.0) + v
        finally:
            tr.query = None
            tr.close(root)
        return got

    def run(self) -> None:
        order = self.workload["queries"] + self.workload.get("warm_rerun", [])
        start = time.perf_counter()
        while not self.pass_walls or time.perf_counter() - start < self.args.seconds:
            wipe_own_artifacts(CACHE_ROOT, self.sf_dir)
            before = dir_bytes(CACHE_ROOT)
            self.cpu = 0.0
            self.pass_walls.append(sum(self.run_query(n) for n in order))
            self.pass_cpu.append(self.cpu)
            self.cache_write_mb += max(0, dir_bytes(CACHE_ROOT) - before) / 2**20

    def _cpu_s(self) -> float:
        own = resource.getrusage(resource.RUSAGE_SELF)
        return own.ru_utime + own.ru_stime + tree_cpu_s(self.spark.sparkContext._gateway.proc.pid)

    def wall_s(self) -> float:
        return statistics.median(self.pass_walls)

    def end_to_end(self) -> dict[str, float]:
        return {
            "wall_s": self.wall_s(),
            "cpu_s": statistics.median(self.pass_cpu),
            "setup_s": self.setup_s,
            "driver_peak_rss_mb": jvm_peak_rss_mb(self.spark)
            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        }


def unit_of(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_ratio", "ratio"), ("_util", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    workloads = load_workloads()
    args = parse_args(argv, workloads)
    workload = workloads[args.workload]
    # Spark's block files and PySpark's temporary files stay in the checkout.
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        from recommender_systems_spark import registry
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - t0
    missing = [n for n in workload["queries"] if n not in registry.QUERIES]
    if missing:
        print(f"perfbench: {args.workload} names unregistered queries: {missing}", file=sys.stderr)
        return 2

    import gen
    from check import Checker
    from recommender_systems_spark.io import gc_data_cache

    sf_dir = gen.generate(WORK, workload["scale"], args.seed)
    checker = Checker(sf_dir, registry.ORACLE, workload.get("rows_only", {}))
    checker.prepare(workload["queries"])
    gc_data_cache()
    remove_table_copies(CACHE_ROOT, sf_dir)
    bench = Bench(args, workload, sf_dir, checker)
    try:
        bench.setup(import_s)
        if args.trace:
            from instruments import Tracer, per_layer

            bench.tracer = Tracer(bench.spark)
            bench.tracer.install()
            try:
                bench.run()
            finally:
                bench.tracer.uninstall()
            metrics = per_layer(bench, os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json"))
        else:
            bench.run()
            metrics = bench.end_to_end()
    finally:
        if bench.spark is not None:
            stop(bench.spark)
        wipe_own_artifacts(CACHE_ROOT, sf_dir)
        remove_table_copies(CACHE_ROOT, sf_dir)

    for name, why in sorted(bench.failures.items()):
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} passes={len(bench.pass_walls)} "
        f"executions={len(bench.latencies)} failed={bench.failed}",
        file=sys.stderr,
    )
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
