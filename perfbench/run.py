"""Linkage benchmark: seeded workloads, output checks, end-to-end and
per-layer metrics.

    python3 perfbench/run.py --workload bulk_link --seed 42 --seconds 10 \
        --trace 0

Run from the repository root. Workloads and their reasons are listed in
BENCHMARK.json and perfbench/inputs.py.

Each job is a fresh Python process with its own Spark JVM at
``local[nproc]``, because that is what a spark-submit user pays and
because in-session walls keep falling over a session's first runs while
fresh-session first runs repeat from process to process. Jobs run one
after another until ``--seconds`` have passed (at least one job, and
none that could not finish in time); each metric is the median over the
run's jobs. The shuffle scratch is emptied before every job, and the
load average and the CPU time the hypervisor stole are logged with it.

``--trace 0`` prints the end-to-end metrics of untraced jobs;
``--trace 1`` runs traced jobs (perfbench/traced.py) and prints the
per-layer metrics. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}.

All files the run writes go under .perfbench_work/ in the repository.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "ehdc_llpg_address_matching_spark"
# every run must end within 180 s; never start a job that could not
JOB_DEADLINE_S = 170
LAYERS = ["gazetteer", "symspell", "normalize", "unique", "blocking",
          "cand.exact", "cand.blocked", "cand.rule", "cand.component",
          "cand.spatial", "cand.vector", "cand.hierarchical", "union",
          "scoring", "decision", "fanout", "cluster", "rescue", "output",
          "stream"]
GROUP_FIELDS = ["stages", "tasks", "task_cpu_s", "shuffle_write_mb"]
# The workloads need far less; a small heap leaves the shared box's RAM
# to the Python workers and keeps the JVM's peak RSS from varying with
# how far it chose to grow.
HEAP = "1g"


def _host() -> dict:
    """Load average and CPU time stolen by the hypervisor so far: the
    box is shared, and these explain runs that read slow."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    return {"load1": os.getloadavg()[0], "steal_s": steal}


def _stop_group(pgid: int) -> None:
    """Terminate every process left in the job's process group and wait
    until none remains."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_job(kind: str, inputs: str, job_dir: str, trace: bool,
            timeout: float) -> dict | None:
    # get_spark's default scratch is /dev/shm, but the benchmark reads
    # and writes nothing outside the repository checkout, so the shuffle
    # scratch is on disk there
    scratch = os.path.join(WORK, "scratch")
    tmp = os.path.join(WORK, "tmp")
    for d in (scratch, tmp, job_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_GRAFT_LOCAL_DIR=scratch, SPARK_DRIVER_MEM=HEAP,
               TMPDIR=tmp, SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp}",
               PYTHONPATH=ROOT, PYSPARK_PYTHON=sys.executable)
    cmd = [sys.executable, os.path.join(HERE, "job.py"), "--kind", kind,
           "--inputs", inputs, "--out", job_dir] + (["--trace"] if trace
                                                    else [])
    with open(os.path.join(job_dir, "job.log"), "w") as log:
        p = subprocess.Popen(cmd, env=env, cwd=job_dir, stdout=log,
                             stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            print(f"job timed out after {timeout:.0f} s", file=sys.stderr)
        finally:
            _stop_group(p.pid)
            p.wait()
    shutil.rmtree(scratch, ignore_errors=True)
    path = os.path.join(job_dir, "result.json")
    if p.returncode != 0 or not os.path.exists(path):
        with open(os.path.join(job_dir, "job.log")) as f:
            tail = f.read()[-3000:]
        print(f"job failed (exit {p.returncode}):\n{tail}", file=sys.stderr)
        return None
    with open(path) as f:
        return json.load(f)


def end_to_end(res: dict, quality: dict) -> dict:
    return {"setup_s": res["setup_s"], "wall_s": res["wall_s"],
            "docs_per_s": quality["docs"] / res["wall_s"],
            "cpu_s": res["cpu_s"], "peak_rss_mb": res["peak_rss_mb"],
            "gold_recall": quality["recall"]}


def per_layer(res: dict) -> dict:
    """Every per-layer figure of one traced job; BENCHMARK.json picks
    the ones reported. A layer the workload does not run reads 0."""
    spans, groups, tr = res["spans"], res["groups"], res["trace"]
    groups = dict(groups, stream=groups.get(tr["stream_group"], {}))
    m = {"session.s": res["session_s"],
         "session.scratch_peak_mb": res["scratch_peak_mb"]}
    for layer in LAYERS:
        mine = [s for s in spans if s["name"] == layer]
        m[f"{layer}.pairs" if layer.startswith("cand.") else
          f"{layer}.rows"] = sum(s["rows"] or 0 for s in mine)
        m[f"{layer}.s"] = sum(s["s"] for s in mine)
        m[f"{layer}.py_cpu_s"] = sum(s["py_cpu_s"] for s in mine)
        for k in GROUP_FIELDS:
            m[f"{layer}.{k}"] = groups.get(layer, {}).get(k, 0)
    st = tr["stream"]
    m.update({
        "normalize.distinct_ratio": tr["distinct_ratio"],
        "cand.overlap_ratio": tr["overlap_ratio"],
        "scoring.prefilter.keep_ratio": tr["keep_ratio"],
        "decision.accept_ratio": tr["accept_ratio"],
        "stream.add_batch_s": st["add_batch_s"],
        "stream.trigger_overhead_s": st["trigger_overhead_s"],
        "stream.batch_p50_s": st["batch_p50_s"],
        "trace.total_s": tr["total_s"],
        "trace.unaccounted_s": tr["total_s"] - tr["span_sum_s"],
    })
    return m


def _untraced_wall(inputs: str) -> float | None:
    """Median untraced wall logged for these inputs: the reference the
    tracing overhead is taken against."""
    path = os.path.join(WORK, "runs.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        walls = [r["wall_s"] for r in map(json.loads, f)
                 if r.get("inputs") == os.path.basename(inputs)
                 and not r["trace"] and r["ok"]]
    return statistics.median(walls) if walls else None


def run_checked_job(args, kind, inputs, job_dir, timeout):
    """Run one job and check its outputs. Returns (log record, job
    result or None, quality figures or None)."""
    import pandas as pd
    from inputs import check_outputs
    host0 = _host()
    res = run_job(kind, inputs, job_dir, bool(args.trace), timeout)
    host1 = _host()
    rec = {"workload": args.workload, "seed": args.seed,
           "inputs": os.path.basename(inputs), "trace": args.trace,
           "time": time.time(), "load1": [host0["load1"], host1["load1"]],
           "steal_s": host1["steal_s"] - host0["steal_s"]}
    if res is None:
        rec.update(ok=False, errors=["job failed"])
        return rec, None, None
    pred = pd.read_parquet(os.path.join(job_dir, "pred.parquet"))
    quality, errors = check_outputs(args.workload, args.seed, inputs, pred,
                                    res["counts"])
    rec.update({k: res[k] for k in ("setup_s", "wall_s", "cpu_s",
                                    "peak_rss_mb", "counts")},
               quality=quality, ok=not errors, errors=errors)
    return rec, res, quality


def write_trace(args, inputs, res, rec) -> None:
    """Write the job's spans and per-group figures, with the tracing
    overhead against the untraced walls logged for the same inputs."""
    ref = _untraced_wall(inputs)
    rec["overhead_s"] = None if ref is None else res["wall_s"] - ref
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}-"
                        f"{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump({"spans": res["spans"], "groups": res["groups"],
                   "trace": res["trace"], "overhead_s": rec["overhead_s"]},
                  f, indent=1)
    print(f"traced total {res['wall_s']:.2f} s, untraced reference "
          f"{ref}, overhead {rec['overhead_s']}; spans in {path}",
          file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "pipeline.py")):
        print(f"{PACKAGE} not found under {ROOT}: run from a checkout of "
              "the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from inputs import WORKLOADS, make_inputs
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    inputs = make_inputs(WORK, args.workload, args.seed)
    kind = WORKLOADS[args.workload]["kind"]
    jobs_root = os.path.join(WORK, "jobs")
    shutil.rmtree(jobs_root, ignore_errors=True)

    t_start = time.monotonic()
    samples, failed, attempted, longest = [], 0, 0, 0.0
    while True:
        t_job = time.monotonic()
        job_dir = os.path.join(jobs_root, str(attempted))
        attempted += 1
        rec, res, quality = run_checked_job(
            args, kind, inputs, job_dir,
            JOB_DEADLINE_S - (t_job - t_start))
        longest = max(longest, time.monotonic() - t_job)
        if rec["errors"]:
            failed += 1
            print(f"check failed: {rec['errors']}", file=sys.stderr)
        else:
            samples.append(
                per_layer(res) if args.trace else end_to_end(res, quality))
        if args.trace and res is not None:
            write_trace(args, inputs, res, rec)
        with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")
        elapsed = time.monotonic() - t_start
        if elapsed >= args.seconds or elapsed + longest > JOB_DEADLINE_S - 20:
            break

    if not samples:
        print("no job completed its checks", file=sys.stderr)
        return 1
    metrics = {}
    for m in wanted:
        name = m["name"]
        metrics[name] = {"value": statistics.median(s[name] for s in samples),
                         "unit": m["unit"]}
        print(f"{name} = {metrics[name]['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
