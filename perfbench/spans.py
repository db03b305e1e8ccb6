"""Spans and Spark counts for the traced run.

A span is opened by benchmark code around a call into one layer of the
engine. ``instrument`` wraps the layers' public driver-side functions, so
calls the engine makes internally (EP-1 calling ``operators.ml``, a
registry query calling ``operators.dfm``) open nested spans too. Spans are
kept in memory and written as JSON when the run ends.

Each open span is also the Spark job group of the driver thread, so every
Spark job belongs to the innermost span open when the job started. After
the run, ``stage_counts`` reads those jobs' stages from Spark's status
store (kept even with the UI off) and ``layer_metrics`` sums them per
layer. Lazy plans run where they are forced: a job's work counts for the
span that forced it, not for the span that built the plan.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from pyspark import SparkContext

PKG = "week5_datingnlp_big_data_spark"

# layer -> (module, public functions). Only functions that build or force
# DataFrames on the driver are wrapped; functions that run inside Python
# UDFs (``stemmer.porter2_stem``) are left alone.
LAYER_FUNCTIONS: dict[str, tuple[tuple[str, tuple[str, ...]], ...]] = {
    "session": (("session", ("spread",)),),
    "sources": (
        ("sources.sinks", ("read_parquet", "write_parquet")),
        ("sources.catalog", ("load_table",)),
    ),
    "functions.stemmer": (("functions.stemmer", ("stem_tokens", "stem_one_udf")),),
    "operators.corpus": (
        ("operators.corpus", ("profiles_to_docs", "tokenize_corpus", "explode_tokens")),
    ),
    "operators.dfm": (
        ("operators.dfm", ("doc_term_counts", "stem_counts", "term_stats", "trim_vocabulary")),
    ),
    "operators.tfidf": (
        ("operators.tfidf", ("term_frequency", "inverse_doc_frequency", "tf_idf")),
    ),
    "operators.freq": (
        ("operators.freq", ("explode_words", "word_counts", "top_k_words", "distinctive_words")),
    ),
    "operators.ml": (
        ("operators.ml", (
            "vectorize_with_vocabulary", "stratified_split", "train_decision_tree",
            "predict", "confusion_matrix", "accuracy",
        )),
    ),
    "plans.pipelines": (
        ("plans.pipelines", ("ep1_classification", "ep2_tfidf", "ep3_word_analysis")),
    ),
}
LAYERS = (*LAYER_FUNCTIONS, "registry")
STAGE_FIELDS = (
    "tasks", "run_s", "shuffle_bytes", "spill_bytes", "gc_s", "failed_tasks", "write_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str
    op: int  # index of the benchmark operation (job or query) it belongs to


class Tracer:
    """In-memory span recorder; ``span`` is a no-op while ``enabled`` is
    false. ``overhead_s`` accumulates the driver-thread time spent in span
    bookkeeping and job-group calls."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.op = -1
        self.spans: list[Span] = []
        self.trims: list[dict] = []
        self._stack: list[int] = []
        self._next = 0
        self.overhead_s = 0.0

    def group(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    def _set_group(self, span_id: int | None) -> None:
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setLocalProperty(
                "spark.jobGroup.id", None if span_id is None else self.group(span_id)
            )

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self._set_group(sid)
        start = time.perf_counter()
        self.overhead_s += start - t0
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(Span(sid, name, layer, start, end, parent, self.run_id, self.op))
            self.overhead_s += time.perf_counter() - end

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in sorted(self.spans, key=lambda s: s.id)], f)


def instrument(tracer: Tracer) -> None:
    """Wrap every function in ``LAYER_FUNCTIONS`` with a span, in its own
    module and in every loaded package module that imported it by name.
    Import the modules the workload uses (e.g. ``registry``) first."""
    wrappers: dict[int, object] = {}
    for layer, entries in LAYER_FUNCTIONS.items():
        for mod_name, names in entries:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            for name in names:
                fn = getattr(mod, name)
                wrappers[id(fn)] = _wrap(tracer, f"{layer}.{name}", layer, fn)
    for mod_name, mod in list(sys.modules.items()):
        if mod_name == PKG or mod_name.startswith(PKG + "."):
            for attr, val in list(vars(mod).items()):
                if id(val) in wrappers:
                    setattr(mod, attr, wrappers[id(val)])


def _wrap(tracer: Tracer, name: str, layer: str, fn):
    sig = inspect.signature(fn)

    # functools.wraps keeps __module__/__qualname__, so if a wrapper is
    # ever pickled into a UDF it resolves to the plain function in workers.
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if name == "operators.dfm.trim_vocabulary" and tracer.enabled:
            call = sig.bind(*args, **kwargs)
            call.apply_defaults()
            tracer.trims.append(call.arguments)
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    return traced


def trim_counts(trims: list[dict]) -> tuple[int, int]:
    """(terms kept, terms seen) over the recorded ``trim_vocabulary``
    calls, recomputed from their arguments after the timed operation."""
    from pyspark.sql import functions as F

    from week5_datingnlp_big_data_spark.operators import dfm

    kept = seen = 0
    for a in trims:
        keep = (F.col("df") >= a["min_docfreq"]) & (F.col("tf") >= a["min_termfreq"])
        row = dfm.term_stats(a["counts"]).agg(
            F.count(F.lit(1)).alias("seen"), F.sum(keep.cast("long")).alias("kept")
        ).first()
        kept += row["kept"] or 0
        seen += row["seen"]
    return kept, seen


def stage_counts(sc: SparkContext, tracer: Tracer) -> dict[int, dict]:
    """Stage metrics per span, from the status store of ``sc``: the jobs
    of each span's job group and the last attempt of their stages."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    out: dict[int, dict] = {}
    for s in tracer.spans:
        acc = dict.fromkeys(STAGE_FIELDS, 0.0)
        acc["jobs"] = 0.0
        acc["job_ids"] = []
        for job in tracker.getJobIdsForGroup(tracer.group(s.id)):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            acc["jobs"] += 1
            acc["job_ids"].append(job)
            for stage in info.stageIds:
                sd = store.lastStageAttempt(stage)
                acc["tasks"] += sd.numCompleteTasks()
                acc["failed_tasks"] += sd.numFailedTasks()
                acc["run_s"] += sd.executorRunTime() / 1000.0
                acc["gc_s"] += sd.jvmGcTime() / 1000.0
                acc["shuffle_bytes"] += sd.shuffleWriteBytes()
                acc["spill_bytes"] += sd.diskBytesSpilled()
                acc["write_bytes"] += sd.outputBytes()
        out[s.id] = acc
    return out


_UNITS = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30}


def _total(text: str) -> float:
    """Total of a formatted SQL metric value: '2,000', or a timing/size
    metric's 'total (min, med, max ...)' header then '12.7 s (...)'."""
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


# key -> (plan-node predicate on (name, description), SQL metric name)
SQL_METRICS = {
    "udf_rows": (lambda n, d: "EvalPython" in n and "_stem" in d, "number of output rows"),
    "udf_s": (lambda n, d: "EvalPython" in n and "_stem" in d, "time to run Python workers"),
    "scan_bytes": (lambda n, d: n.startswith("Scan "), "size of files read"),
}


def sql_metric_totals(spark, job_ids: set[int]) -> dict[str, float]:
    """Sum each ``SQL_METRICS`` entry over the plan nodes of the SQL
    executions that ran any of ``job_ids``."""
    sq = spark._jsparkSession.sharedState().statusStore()
    execs = sq.executionsList()
    out = dict.fromkeys(SQL_METRICS, 0.0)
    for i in range(execs.size()):
        e = execs.apply(i)
        it = e.jobs().keys().iterator()
        ran = set()
        while it.hasNext():
            ran.add(int(it.next()))
        if not ran & job_ids:
            continue
        eid = e.executionId()
        values = sq.executionMetrics(eid)
        nodes = sq.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            name, desc = node.name(), node.desc()
            wanted = {metric: key for key, (match, metric) in SQL_METRICS.items()
                      if match(name, desc)}
            if not wanted:
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() in wanted:
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[wanted[m.name()]] += _total(v.get())
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its direct children cover (children
    run one after another on the driver thread)."""
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in child:
            child[s.parent] += s.end - s.start
    return {s.id: (s.end - s.start) - child[s.id] for s in spans}


def layer_metrics(
    spans: list[Span], counts: dict[int, dict[str, float]], cores: int, n_ops: int
) -> dict[str, float]:
    """Per-layer totals divided by the number of traced operations."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        for s in mine:
            for k in STAGE_FIELDS:
                tot[k] += counts.get(s.id, {}).get(k, 0.0)
        self_s = sum(selfs[s.id] for s in mine)
        per = max(n_ops, 1)
        out[f"{layer}.self_s"] = self_s / per
        out[f"{layer}.tasks"] = tot["tasks"] / per
        out[f"{layer}.busy_ratio"] = tot["run_s"] / (self_s * cores) if self_s > 0 else 0.0
        out[f"{layer}.shuffle_bytes"] = tot["shuffle_bytes"] / per
        out[f"{layer}.spill_bytes"] = tot["spill_bytes"] / per
        out[f"{layer}.gc_s"] = tot["gc_s"] / per
        out[f"{layer}.failed_tasks"] = tot["failed_tasks"] / per
    return out
