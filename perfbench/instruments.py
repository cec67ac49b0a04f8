"""Outside-in instruments for the traced run.

Nothing here edits the engine. The tracer wraps public functions where
their callers look them up (the defining module, plus every engine
module that bound the same object at import), wraps
``DataFrame.localCheckpoint``, registers a ``StreamingQueryListener``,
and reads Spark's own status store. ``uninstall`` restores every
original.

Spans (name, start, end, parent, query) are kept in memory. Spark jobs
are attributed to a span by job-id interval: the DAG scheduler hands out
job ids in order, so the jobs submitted while a span was open are the
ids between its start and end marks. With one client thread this also
catches jobs that stream threads submit on the query's behalf.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

PKG = "recommender_systems_spark"

# Engine functions the traced run wraps: (module, function) -> layer.
TRACED_FUNCTIONS: dict[tuple[str, str], str] = {
    ("io", "load_table"): "io.load_table",
    ("ml.als", "train_als_bias"): "ml.train_als_bias",
    ("ml.genre_als", "train_als_genre"): "ml.train_als_genre",
    ("ml.ials", "train_ials"): "ml.train_ials",
    ("ml.bpr", "train_bpr"): "ml.train_bpr",
    ("ml.als", "mllib_als"): "ml.mllib_als",
    ("ml.foldin", "fold_in_bias"): "ml.fold_in",
    ("ml.foldin", "fold_in_trait_vector"): "ml.fold_in",
    ("ml.foldin", "fold_in_bias_and_trait_vector"): "ml.fold_in",
    ("ml.bpr", "precision_recall_at_k"): "ml.eval",
    # train_bpr's evaluation on a fixed-count user sample goes through
    # this private helper instead of precision_recall_at_k.
    ("ml.bpr", "_eval_pr_driver"): "ml.eval",
    ("operators.densify", "dense_id_map"): "operators.dense_id_map",
    ("operators.relational", "two_phase_midrank"): "operators.two_phase_midrank",
    ("operators.relational", "global_running_totals"): "operators.global_running_totals",
}
# Every public ``run_*`` function of these modules drains a stream.
STREAM_RUNNERS = ("streaming.events", "streaming.sessions")
# Subpackages a localCheckpoint call is attributed to (by its caller).
CHECKPOINT_MODULES = ("ml", "operators", "queries", "streaming")  # io makes no calls

_STAGE_FIELDS = (
    ("tasks", "numTasks", 1),
    ("failed_tasks", "numFailedTasks", 1),
    ("shuffle_read_mb", "shuffleReadBytes", 1 / 2**20),
    ("shuffle_write_mb", "shuffleWriteBytes", 1 / 2**20),
    ("spill_mb", "diskBytesSpilled", 1 / 2**20),
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("jvm_gc_s", "jvmGcTime", 1e-3),
)
STAGE_METRICS = ("stages",) + tuple(name for name, _, _ in _STAGE_FIELDS)


def traced_functions() -> dict[tuple[str, str], str]:
    out = dict(TRACED_FUNCTIONS)
    for mod_name in STREAM_RUNNERS:
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        for name, value in vars(mod).items():
            if name.startswith("run_") and callable(value) and value.__module__ == mod.__name__:
                out[(mod_name, name)] = "streaming.run"
    return out


class Span:
    __slots__ = ("name", "start", "end", "parent", "query", "jobs")

    def __init__(self, name, start, parent, query):
        self.name, self.start, self.parent, self.query = name, start, parent, query
        self.end = start
        self.jobs = 0


def self_costs(spans: list[Span]) -> list[tuple[float, int]]:
    """Each span's (seconds, jobs) minus what its child spans cover.
    Children of one span never overlap (one client thread)."""
    child_time: dict[int, float] = defaultdict(float)
    child_jobs: dict[int, int] = defaultdict(int)
    for s in spans:
        if s.parent is not None:
            child_time[id(s.parent)] += s.end - s.start
            child_jobs[id(s.parent)] += s.jobs
    return [((s.end - s.start) - child_time[id(s)], s.jobs - child_jobs[id(s)]) for s in spans]


class Tracer:
    """Records spans, job counts, checkpoint calls, cache lookups and
    micro-batches while installed."""

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.query: str | None = None
        self.counts: dict[str, float] = defaultdict(float)
        self._patches: list[tuple[object, str, object]] = []
        self._listener = None

    # -- spans -------------------------------------------------------------
    def next_job_id(self) -> int:
        return self._dag.numTotalJobs()

    def open(self, name: str) -> Span:
        span = Span(name, time.perf_counter(), self._stack[-1] if self._stack else None, self.query)
        span.jobs = self.next_job_id()
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        span.jobs = self.next_job_id() - span.jobs
        self._stack.pop()
        self.spans.append(span)

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.open(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(span)

        return traced

    # -- patching ----------------------------------------------------------
    def _rebind(self, original, replacement) -> None:
        """Point every engine-module binding of ``original`` at ``replacement``."""
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._patches.append((mod, attr, original))
                    setattr(mod, attr, replacement)

    def install(self) -> None:
        for (mod_name, fn_name), layer in traced_functions().items():
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            original = getattr(mod, fn_name)
            self._rebind(original, self._wrap(layer, original))

        io = importlib.import_module(f"{PKG}.io")
        cache_ready = io.cache_ready

        def counted_cache_ready(path):
            ready = cache_ready(path)
            self.counts["io.cache.lookups"] += 1
            self.counts["io.cache.hits"] += bool(ready)
            return ready

        self._rebind(cache_ready, counted_cache_ready)

        df_cls = type(self.spark.range(1))
        local_checkpoint = df_cls.localCheckpoint

        def counted_local_checkpoint(df, *args, **kwargs):
            eager = args[0] if args else kwargs.get("eager", True)
            module = _calling_module(sys._getframe(1))
            if module is not None:
                self.counts[f"{module}.local_checkpoint.calls"] += 1
                self.counts[f"{module}.local_checkpoint.eager"] += bool(eager)
            return local_checkpoint(df, *args, **kwargs)

        self._patches.append((df_cls, "localCheckpoint", local_checkpoint))
        df_cls.localCheckpoint = counted_local_checkpoint

        self._listener = _batch_counter(self.counts)
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        # Stream progress reaches the listener through Spark's listener
        # bus, asynchronously: let it deliver what is queued first.
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        for obj, attr, original in reversed(self._patches):
            setattr(obj, attr, original)
        self._patches.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- status store ------------------------------------------------------
    def job_stats(self, first: int, end: int, tag: str) -> dict[str, float]:
        """Stage metrics for jobs ``[first, end)``, from the status
        store. ``untagged_jobs`` counts jobs that do not carry ``tag``,
        i.e. that another thread submitted inside the interval."""
        out = dict.fromkeys(STAGE_METRICS, 0.0)
        out["untagged_jobs"] = 0.0
        stages: set[int] = set()
        for job_id in range(first, end):
            try:
                job = self._store.job(job_id)
            except Py4JJavaError:  # evicted from the store, or never registered
                continue
            if not _seq_contains(job.jobTags(), tag):
                out["untagged_jobs"] += 1
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        for stage_id in stages:
            try:
                stage = self._store.lastStageAttempt(stage_id)
            except Py4JJavaError:
                continue
            if stage.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for name, getter, scale in _STAGE_FIELDS:
                out[name] += getattr(stage, getter)() * scale
        return out


def _seq_contains(seq, item: str) -> bool:
    return any(seq.apply(i) == item for i in range(seq.size()))


def _calling_module(frame) -> str | None:
    """Engine subpackage of the nearest engine frame on the stack."""
    while frame is not None:
        name = frame.f_globals.get("__name__", "")
        if name.startswith(PKG + "."):
            sub = name.split(".")[1]
            if sub in CHECKPOINT_MODULES:
                return sub
        frame = frame.f_back
    return None


def _batch_counter(counts):
    """A StreamingQueryListener adding micro-batch progress to ``counts``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchCounter(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            counts["streaming.batches"] += 1
            counts["streaming.input_rows"] += p.numInputRows
            counts["streaming.trigger_s"] += p.durationMs.get("triggerExecution", 0) / 1e3

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return BatchCounter()


def per_layer(bench, trace_path: str) -> dict[str, float]:
    """Per-layer metrics of a traced run, per pass; the spans go to
    ``trace_path``.

    A wrapped layer reports its self time (``<layer>_s``) and the Spark
    jobs submitted in it (``<layer>.jobs``), both without what nested
    wrapped calls cover. A layer the workload never calls reads 0.
    """
    tracer = bench.tracer
    passes = len(bench.pass_walls)
    own = self_costs(tracer.spans)
    wall: dict[str, float] = defaultdict(float)
    self_s: dict[str, float] = defaultdict(float)
    self_jobs: dict[str, float] = defaultdict(float)
    jobs: dict[str, float] = defaultdict(float)
    for s, (t, n) in zip(tracer.spans, own):
        wall[s.name] += s.end - s.start
        jobs[s.name] += s.jobs
        self_s[s.name] += t
        self_jobs[s.name] += n
    out: dict[str, float] = {
        "session.get_spark_s": bench.layer["session.get_spark_s"],
        "deploy.ensure_shipped_s": bench.layer["deploy.ensure_shipped_s"],
        "trace.wall_s": bench.wall_s(),
    }
    for phase in ("build", "plan", "execute"):
        out[f"queries.{phase}_s"] = wall[f"queries.{phase}"] / passes
    out["queries.build.jobs"] = jobs["queries.build"] / passes
    out["queries.execute.jobs"] = jobs["queries.execute"] / passes
    out["queries.untagged.jobs"] = sum(
        bench.phase.get(f"{p}.untagged_jobs", 0.0) for p in ("build", "plan", "execute")
    ) / passes
    for name in STAGE_METRICS:
        out[f"queries.execute.{name}"] = bench.phase.get(f"execute.{name}", 0.0) / passes
    cores = bench.spark.sparkContext.defaultParallelism
    out["queries.execute.core_util"] = (
        bench.phase.get("execute.executor_run_s", 0.0) / (wall["queries.execute"] * cores)
    )
    out["io.load_table.calls"] = sum(s.name == "io.load_table" for s in tracer.spans) / passes
    for layer in sorted(set(traced_functions().values())):
        out[f"{layer}_s"] = self_s[layer] / passes
        out[f"{layer}.jobs"] = self_jobs[layer] / passes
    counts = tracer.counts
    lookups = counts.get("io.cache.lookups", 0.0)
    out["io.cache.lookups"] = lookups / passes
    out["io.cache.hit_ratio"] = counts.get("io.cache.hits", 0.0) / lookups if lookups else 0.0
    out["io.cache.write_mb"] = bench.cache_write_mb / passes
    for k in ("batches", "input_rows", "trigger_s"):
        out[f"streaming.{k}"] = counts.get(f"streaming.{k}", 0.0) / passes
    for module in CHECKPOINT_MODULES:
        for k in ("calls", "eager"):
            out[f"{module}.local_checkpoint.{k}"] = counts.get(f"{module}.local_checkpoint.{k}", 0.0) / passes
    index = {id(s): i for i, s in enumerate(tracer.spans)}
    with open(trace_path, "w") as fh:
        json.dump(
            [
                {"name": s.name, "query": s.query, "start": s.start, "end": s.end,
                 "self_s": t, "self_jobs": n, "jobs": s.jobs, "parent": index.get(id(s.parent))}
                for s, (t, n) in zip(tracer.spans, own)
            ],
            fh,
        )
    return out
