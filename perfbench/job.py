"""One benchmark job: a fresh Python process with its own Spark JVM.

    python3 perfbench/job.py --kind batch|stream --inputs DIR --out DIR
                             [--trace]

The untraced job calls the engine exactly as users do: ``get_spark()``,
then ``run_pipeline`` (batch) or the streaming candidate front end
(stream).
The traced job makes the same calls with the Spark event log on and
each layer's public functions wrapped in spans (perfbench/traced.py). Either way the job writes ``result.json``
and ``pred.parquet`` (every matched doc_id, uprn) to ``--out``; the
caller checks them.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, CPU ticks including reaped children, RSS pages)."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        r = s.rindex(")")
        fields = s[r + 2:].split()
        table[int(d)] = (int(fields[1]), s[s.index("(") + 1:r],
                         sum(int(x) for x in fields[11:15]), int(fields[21]))
    return table


class ProcTree:
    """CPU and memory of this process's descendants: the Spark JVM and
    the Python workers its daemon forks."""

    def __init__(self):
        self.root = os.getpid()

    def _descendants(self, table):
        kids: dict[int, list[int]] = {}
        for pid, row in table.items():
            kids.setdefault(row[0], []).append(pid)
        out, todo = [], [self.root]
        while todo:
            for c in kids.get(todo.pop(), ()):
                out.append(c)
                todo.append(c)
        return out

    def cpu(self) -> tuple[float, float]:
        """(JVM CPU s, Python-worker CPU s) used so far."""
        table = _proc_table()
        jvm = py = 0
        for pid in self._descendants(table):
            if table[pid][1] == "java":
                jvm += table[pid][2]
            else:
                py += table[pid][2]
        return jvm / CLK_TCK, py / CLK_TCK

    def rss_mb(self) -> float:
        table = _proc_table()
        pids = [self.root] + self._descendants(table)
        return sum(table[p][3] for p in pids if p in table) * PAGE / 2**20


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total / 2**20


class Sampler(threading.Thread):
    """Peak RSS of the process tree and, when given a directory, peak
    size of the shuffle scratch, sampled until stop()."""

    def __init__(self, tree: ProcTree, scratch: str | None):
        super().__init__(daemon=True)
        self.tree, self.scratch = tree, scratch
        self.peak_rss_mb = self.peak_scratch_mb = 0.0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.wait(0.25):
            self.peak_rss_mb = max(self.peak_rss_mb, self.tree.rss_mb())
            if self.scratch:
                self.peak_scratch_mb = max(self.peak_scratch_mb,
                                           _dir_mb(self.scratch))

    def stop(self):
        self._halt.set()
        self.join()


def run_batch(spark, inputs, tree):
    from ehdc_llpg_address_matching_spark.pipeline import run_pipeline
    c0, t0 = sum(tree.cpu()), time.perf_counter()
    docs = spark.read.parquet(os.path.join(inputs, "documents"))
    gaz = spark.read.parquet(os.path.join(inputs, "gazetteer.parquet"))
    out = run_pipeline(spark, docs, gaz)
    pred = out["matches"].select("doc_id", "uprn").toPandas()
    wall, cpu = time.perf_counter() - t0, sum(tree.cpu()) - c0
    counts = {"matches": len(pred),
              "candidate_pairs": out["candidates"].count(),
              "audit_pairs": out["audit_candidates"].count()}
    return 0.0, wall, cpu, pred, counts


def prepare_reference(spark, inputs):
    """The gazetteer prepared once, as start_incremental_linkage does."""
    from ehdc_llpg_address_matching_spark.operators.candidates import \
        prepare_gazetteer
    gaz = spark.read.parquet(os.path.join(inputs, "gazetteer.parquet"))
    return prepare_gazetteer(gaz).localCheckpoint(eager=True)


def start_stream(spark, inputs, work, gazp):
    """The streaming front end: documents dropped as parquet files are
    read one file per micro-batch, normalized, stream-static joined to
    the prepared gazetteer's blocking-key index, and the candidates
    appended to a parquet sink."""
    from ehdc_llpg_address_matching_spark.streaming.ingest import (
        read_document_stream, stream_static_candidates)
    stream = read_document_stream(spark, os.path.join(inputs, "documents"),
                                  max_files_per_trigger=1)
    return (stream_static_candidates(stream, gazp).writeStream
            .format("parquet")
            .option("checkpointLocation", os.path.join(work, "checkpoint"))
            .trigger(availableNow=True)
            .start(os.path.join(work, "sink")))


def drain_stream(q, work):
    """Wait for the query to drain. Returns (the rows of the files the
    sink's commit log lists, each tagged with the micro-batch that
    committed it, and counts for the exactly-once checks)."""
    import pandas as pd
    q.awaitTermination()
    sink = os.path.join(work, "sink")
    meta = os.path.join(sink, "_spark_metadata")
    logs = sorted(int(n) for n in os.listdir(meta) if n.isdigit())
    committed: dict[str, int] = {}
    listed = 0
    for batch in logs:
        with open(os.path.join(meta, str(batch))) as f:
            names = [os.path.basename(json.loads(x)["path"])
                     for x in f.read().splitlines()[1:]]
        listed += len(names)
        committed.update((n, batch) for n in names)
    on_disk = {n for n in os.listdir(sink) if n.startswith("part-")}
    rows = pd.concat([pd.read_parquet(os.path.join(sink, n))
                      .assign(batch=batch)
                      for n, batch in sorted(committed.items())],
                     ignore_index=True)
    batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    return rows, {"rows": len(rows), "batches": batches,
                  "commits": len(logs),
                  "files_committed_twice": listed - len(committed),
                  "uncommitted_files": len(on_disk - committed.keys())}


def run_stream(spark, inputs, tree, work):
    t0 = time.perf_counter()
    q = start_stream(spark, inputs, work, prepare_reference(spark, inputs))
    start_s = time.perf_counter() - t0
    c0, t0 = sum(tree.cpu()), time.perf_counter()
    sink, counts = drain_stream(q, work)
    wall, cpu = time.perf_counter() - t0, sum(tree.cpu()) - c0
    return start_s, wall, cpu, sink, counts


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kind", choices=["batch", "stream"], required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    from ehdc_llpg_address_matching_spark.session import get_spark

    tree = ProcTree()
    scratch = os.environ["SPARK_GRAFT_LOCAL_DIR"]
    sampler = Sampler(tree, scratch if args.trace else None)
    sampler.start()
    events = os.path.join(args.out, "events")
    t0 = time.perf_counter()
    if args.trace:
        os.makedirs(events)
        spark = get_spark(extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"})
    else:
        spark = get_spark()
    session_s = time.perf_counter() - t0

    result = {}
    if args.trace:
        from traced import trace_job
        start_s, wall, cpu, pred, counts, spans, extra = trace_job(
            spark, args.kind, args.inputs, args.out, tree)
        result.update(spans=spans, trace=extra)
    elif args.kind == "batch":
        start_s, wall, cpu, pred, counts = run_batch(spark, args.inputs, tree)
    else:
        start_s, wall, cpu, pred, counts = run_stream(spark, args.inputs,
                                                      tree, args.out)
    spark.stop()
    sampler.stop()
    result.update(session_s=session_s, setup_s=session_s + start_s,
                  wall_s=wall, cpu_s=cpu, peak_rss_mb=sampler.peak_rss_mb,
                  scratch_peak_mb=sampler.peak_scratch_mb, counts=counts)
    if args.trace:
        from traced import event_log_metrics
        result["groups"] = event_log_metrics(events)
    pred.to_parquet(os.path.join(args.out, "pred.parquet"), index=False)
    with open(os.path.join(args.out, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
