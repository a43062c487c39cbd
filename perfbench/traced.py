"""Traced job: the real ``run_pipeline`` timed layer by layer from outside.

For the duration of the job, the public functions that ``run_pipeline``
calls are replaced, on the modules it looks them up from, by wrappers
that open the layer's span. A span lasts until the next layer's span
opens, so the spans tile the run and every Spark job lands in exactly
one of them; each span also sets a Spark job group named after its
layer. The last function of each layer materializes its output at the
layer boundary (cache + count, or the collected SymSpell dictionary) and
records the row count, so lazy work is paid inside the layer that
defines it. The fan-out step is inline code in ``run_pipeline``: its
span opens at the first legacy-UPRN call and lasts until the cluster
layer's first call.

After the run the Spark event log is read back and grouped by job group,
which gives stages, tasks, executor CPU and shuffle bytes per layer.
Python-worker CPU per layer comes from /proc deltas across each span.
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import time
from contextlib import contextmanager

PACKAGE = "ehdc_llpg_address_matching_spark"
GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description",
              "spark.job.interruptOnCancel")


def _cached_count(df):
    df = df.cache()
    return df, df.count()


def _dictionary_words(sym):
    return sym, len(sym.words)


# (module, function, layer, boundary): every public function that
# run_pipeline calls with the default PipelineConfig, in call order,
# under the name run_pipeline looks it up by. A boundary returns
# (output, rows) and marks the layer's last call; the other calls only
# build plans.
HOOKS = [
    ("operators.candidates", "prepare_gazetteer", "gazetteer", _cached_count),
    ("pipeline", "build_dictionary_from_gazetteer", "symspell",
     _dictionary_words),
    ("pipeline", "normalize_documents", "normalize", _cached_count),
    ("operators.candidates", "prepare_unique_addresses", "unique",
     _cached_count),
    ("pipeline", "with_blocking_keys", "blocking", _cached_count),
    ("operators.candidates", "cand_exact_canonical", "cand.exact",
     _cached_count),
    ("operators.candidates", "cand_blocked", "cand.blocked", _cached_count),
    ("operators.candidates", "cand_rule_rewrite", "cand.rule", _cached_count),
    ("operators.candidates", "cand_component_joins", "cand.component",
     _cached_count),
    ("operators.candidates", "cand_spatial", "cand.spatial", _cached_count),
    ("operators.candidates", "cand_vector", "cand.vector", _cached_count),
    ("operators.candidates", "cand_hierarchical", "cand.hierarchical",
     _cached_count),
    ("operators.candidates", "union_candidates", "union", _cached_count),
    ("operators.scoring", "attach_pair_attrs", "scoring", None),
    ("operators.scoring", "with_column_features", "scoring", None),
    ("operators.scoring", "prefilter_pairs", "scoring", None),
    ("operators.scoring", "with_pair_features", "scoring", None),
    ("operators.scoring", "with_score", "scoring", _cached_count),
    ("operators.decision", "narrow_for_decision", "decision", None),
    ("operators.decision", "keep_best_per_uprn", "decision", None),
    ("operators.decision", "decide", "decision", _cached_count),
    ("operators.scoring", "with_audit_levenshtein", "decision", None),
    ("operators.decision", "accepted", "decision", _cached_count),
    ("operators.candidates", "legacy_uprn_matches", "fanout", None),
    ("operators.candidates", "missing_legacy_uprns", "fanout", None),
    ("operators.candidates", "historic_uprn_matches", "fanout", None),
    ("pipeline", "build_edges", "cluster", None),
    ("pipeline", "connected_components", "cluster", None),
    ("pipeline", "cluster_consensus", "cluster", _cached_count),
    ("operators.rescue", "group_fuzzy_rescue", "rescue", _cached_count),
]


class Tracer:
    """Spans that tile the traced region, kept in memory and written out
    by the caller when the job ends."""

    def __init__(self, spark, tree):
        self.sc = spark.sparkContext
        self.tree = tree
        self.spans: list[dict] = []
        # rows at each boundary, by function name, for the ratios
        self.counts: dict[str, int] = {}
        self.trace_id = f"{os.getpid()}-{time.time_ns()}"
        self.t_origin = time.perf_counter()
        self._open: dict | None = None
        self._saved: dict = {}

    def enter(self, name: str) -> dict:
        """Close the open span unless it is ``name``'s, open ``name``'s,
        and return it."""
        if self._open and self._open["name"] == name:
            return self._open
        if self._open:
            self.close()
        else:
            self._saved = {k: self.sc.getLocalProperty(k)
                           for k in GROUP_KEYS}
        self.sc.setJobGroup(name, name)
        jvm, py = self.tree.cpu()
        self._open = {"trace": self.trace_id, "name": name, "rows": None,
                      "_t0": time.perf_counter(), "_jvm": jvm, "_py": py}
        return self._open

    def close(self) -> None:
        rec, self._open = self._open, None
        if rec is None:
            return
        t1 = time.perf_counter()
        jvm, py = self.tree.cpu()
        t0 = rec.pop("_t0")
        rec.update(start=t0 - self.t_origin, end=t1 - self.t_origin,
                   s=t1 - t0, jvm_cpu_s=jvm - rec.pop("_jvm"),
                   py_cpu_s=py - rec.pop("_py"))
        self.spans.append(rec)
        for k, v in self._saved.items():
            self.sc.setLocalProperty(k, v)

    def wrap(self, fn, layer: str, boundary):
        def traced(*args, **kwargs):
            span = self.enter(layer)
            out = fn(*args, **kwargs)
            if boundary is not None:
                out, span["rows"] = boundary(out)
                self.counts[fn.__name__] = span["rows"]
            return out
        return traced


@contextmanager
def hooked(tr: Tracer):
    """Route run_pipeline's layer calls through ``tr`` until exit."""
    saved = []
    for mod, name, layer, boundary in HOOKS:
        m = importlib.import_module(f"{PACKAGE}.{mod}")
        fn = getattr(m, name)
        saved.append((m, name, fn))
        setattr(m, name, tr.wrap(fn, layer, boundary))
    try:
        yield
    finally:
        for m, name, fn in saved:
            setattr(m, name, fn)


def _trace_batch(spark, inputs, tr, tree):
    from ehdc_llpg_address_matching_spark import pipeline
    c0, t0 = sum(tree.cpu()), time.perf_counter()
    docs = spark.read.parquet(os.path.join(inputs, "documents"))
    gaz = spark.read.parquet(os.path.join(inputs, "gazetteer.parquet"))
    with hooked(tr):
        out = pipeline.run_pipeline(spark, docs, gaz)
    span = tr.enter("output")
    pred = out["matches"].select("doc_id", "uprn").toPandas()
    span["rows"] = len(pred)
    tr.close()
    wall, cpu = time.perf_counter() - t0, sum(tree.cpu()) - c0
    # counts taken after the traced region closes add no layer time; the
    # fan-out's output is checkpointed inline, so its rows are read here
    fanout = next(s for s in tr.spans if s["name"] == "fanout")
    fanout["rows"] = out["doc_matches"].count()
    docs_n = out["docs_normalized"]
    n_docs = docs_n.count()
    n_audit = out["audit_candidates"].count()
    c = tr.counts
    n_cands = c["union_candidates"]
    n_gen = sum(n for name, n in c.items() if name.startswith("cand_"))
    extra = {"total_s": wall,
             "span_sum_s": sum(s["s"] for s in tr.spans),
             "distinct_ratio": docs_n.select("raw_address").distinct()
             .count() / max(n_docs, 1),
             "overlap_ratio": n_gen / max(n_cands, 1),
             "keep_ratio": c["with_score"] / max(n_cands, 1),
             "accept_ratio": c["accepted"] / max(c["decide"], 1),
             "stream_group": None,
             "stream": {"add_batch_s": 0.0, "trigger_overhead_s": 0.0,
                        "batch_p50_s": 0.0}}
    return 0.0, wall, cpu, pred, {"matches": len(pred),
                                  "candidate_pairs": n_cands,
                                  "audit_pairs": n_audit}, extra


def _trace_stream(spark, inputs, out, tr, tree):
    import job
    from ehdc_llpg_address_matching_spark.sources.documents import \
        with_raw_address
    t0 = time.perf_counter()
    span = tr.enter("gazetteer")
    gazp = job.prepare_reference(spark, inputs)
    span["rows"] = gazp.count()
    tr.close()
    q = job.start_stream(spark, inputs, out, gazp)
    start_s = time.perf_counter() - t0
    c0, t0 = sum(tree.cpu()), time.perf_counter()
    span = tr.enter("stream")
    pred, counts = job.drain_stream(q, out)
    span["rows"] = len(pred)
    tr.close()
    wall, cpu = time.perf_counter() - t0, sum(tree.cpu()) - c0
    prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
    trig = sum(p["durationMs"]["triggerExecution"] for p in prog) / 1e3
    add = sum(p["durationMs"]["addBatch"] for p in prog) / 1e3
    raw = with_raw_address(
        spark.read.parquet(os.path.join(inputs, "documents")))
    extra = {"total_s": wall, "span_sum_s": span["s"],
             "distinct_ratio": raw.select("raw_address").distinct().count()
             / max(raw.count(), 1),
             "overlap_ratio": 0.0, "keep_ratio": 0.0, "accept_ratio": 0.0,
             # the query's micro-batch jobs run under its own job group
             "stream_group": str(q.runId),
             "stream": {"add_batch_s": add,
                        "trigger_overhead_s": trig - add,
                        "batch_p50_s": statistics.median(
                            p["durationMs"]["triggerExecution"] / 1e3
                            for p in prog)}}
    return start_s, wall, cpu, pred, counts, extra


def trace_job(spark, kind, inputs, out, tree):
    """Run the workload traced. Returns (start_s, traced total, CPU s,
    outputs, counts, spans, extras)."""
    tr = Tracer(spark, tree)
    if kind == "batch":
        res = _trace_batch(spark, inputs, tr, tree)
    else:
        res = _trace_stream(spark, inputs, out, tr, tree)
    return (*res[:5], tr.spans, res[5])


def event_log_metrics(events_dir: str) -> dict:
    """Per job group: executed stages, tasks, executor CPU, shuffle
    bytes written, and the worst per-stage task-time skew (max over
    median executor run time, stages with >= 4 tasks)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    stage_times: dict[tuple[int, int], list[int]] = {}
    files = sorted(os.path.join(d, n) for d, _, names in os.walk(events_dir)
                   for n in names if not n.startswith("appstatus"))
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif ev == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    g = groups.setdefault(stage_group.get(sid) or "(none)", {
                        "stages": set(), "tasks": 0, "task_cpu_s": 0.0,
                        "shuffle_write_mb": 0.0})
                    key = (sid, e.get("Stage Attempt ID", 0))
                    m = e.get("Task Metrics") or {}
                    g["stages"].add(key)
                    g["tasks"] += 1
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["shuffle_write_mb"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0) / 2**20
                    stage_times.setdefault(key, []).append(
                        m.get("Executor Run Time", 0))
    for name, g in groups.items():
        skews = [max(t) / max(statistics.median(t), 1)
                 for k, t in stage_times.items()
                 if k in g["stages"] and len(t) >= 4]
        g["max_task_skew"] = max(skews, default=1.0)
        g["stages"] = len(g["stages"])
    return groups
