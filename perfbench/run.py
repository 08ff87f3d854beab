#!/usr/bin/env python3
"""graft benchmark: one command for every workload.

    python3 perfbench/run.py --workload cdc_bulk --seed 1 --seconds 10 --trace 0

Builds the engine from source when needed (build.py), makes the
workload's inputs from --seed, runs the engine in a fresh JVM, checks
every output apart from the engine (checks.py), and prints one JSON
object as the last line of stdout: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. See README.md.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import cdcgen  # noqa: E402
import checks  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
CORES = len(os.sched_getaffinity(0))
RUN_LIMIT_S = 170    # a run that is not done by then fails

# analytics_suite: family → gate queries (names in SparkEntry.queries)
FAMILIES = {
    "graph": ["graph_components"],
    "dedup": ["dedup_minhash"],
    "text": ["text_heaps"],
    "twins": ["text_heaps_stream"],
    "relational": ["q18_cohort_retention"],
}
QUERIES = [q for qs in FAMILIES.values() for q in qs]

MIN_ROUNDS = 2                    # measured rounds per run, at least; medians are reported
BULK_RECORDS = 30_000             # staged records, read as one micro-batch per round
STAGED_TS_MS = 1_700_000_000_000  # ts_ms of the first staged record

END_TO_END = {"setup_s": "s", "rec_per_s": "rec/s", "latency_p50_ms": "ms",
              "latency_tail_ms": "ms", "suite_s": "s", "peak_rss_mb": "MB"}

# every traced run prints all of these; a layer the workload does not
# run reads 0
PER_LAYER = (
    ["sources.scan_ms", "sources.tasks_per_batch", "stream.latest_offset_ms",
     "ops.chain_ms", "ops.unwrap.debezium_ms", "ops.field.set_ms", "ops.filter_ms",
     "ops.error_ms", "ops.field.rename_ms", "ops.records_in", "ops.records_out",
     "pipeline.add_batch_ms", "pipeline.jobs_per_batch", "pipeline.write_parquet_ms",
     "pipeline.write_file_ms", "pipeline.dlq_ms", "pipeline.batches",
     "stream.planning_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms",
     "stream.trigger_ms"]
    + [f"q.{q}.wall_ms" for q in QUERIES]
    + [f"spark.{k}" for k in ("planning_ms", "jobs", "stages", "tasks",
                               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                               "executor_run_ms", "executor_cpu_ms", "gc_ms")]
    + [f"family.{f}_s" for f in FAMILIES]
    + ["host.probe_s", "host.steal_s", "host.gc_ms"])

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    # a fixed heap and young generation keep peak RSS steady (see README)
    "-Xms1g", "-Xmx1g", "-XX:+UnlockExperimentalVMOptions", "-XX:G1NewSizePercent=25",
    "-XX:G1MaxNewSizePercent=25", "-XX:-UsePerfData"]


class BenchError(RuntimeError):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def layer_unit(name):
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


# ----------------------------------------------------------------- host

def steal_s():
    """Hypervisor steal time so far, in CPU-seconds (/proc/stat)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def host_probe_s():
    """A data-free, single-thread CPU yardstick."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


# ------------------------------------------------------------------ JVM

class Jvm:
    """One engine JVM. Its set-up time runs from launch to READY."""

    def __init__(self, cp, params_path, work, deadline):
        self.log_path = os.path.join(work, "jvm.log")
        self.err = open(self.log_path, "w")
        cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                                      "graftbench.GraftBench", params_path])
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                     stdout=subprocess.PIPE, stderr=self.err, text=True)
        # a hung engine is killed at the deadline, which ends any read
        self.watchdog = threading.Timer(max(0.0, deadline - self.t0), self.proc.kill)
        self.watchdog.start()

    def expect(self, word):
        """Seconds from launch until the engine prints `word`."""
        while True:
            line = self.proc.stdout.readline()
            if not line:
                self.fail(f"engine exited (or ran out of time) before {word}")
            if line.strip() == word:
                return time.perf_counter() - self.t0

    def stop(self):
        self.watchdog.cancel()
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.err.close()

    def fail(self, msg):
        self.stop()
        with open(self.log_path) as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"{msg}\n{tail}")


def launch(cp, params, work, deadline):
    """Run the workload in one engine JVM, killed at DONE. Returns its
    set-up time and the engine's result.json."""
    path = os.path.join(work, "params.properties")
    with open(path, "w") as fh:
        fh.writelines(f"{k}={v}\n" for k, v in params.items())
    jvm = Jvm(cp, path, work, deadline)
    try:
        setup = jvm.expect("READY")
        done = jvm.expect("DONE")
    finally:
        jvm.stop()
    log(f"engine JVM: set-up {setup:.1f} s, done after {done:.1f} s")
    with open(os.path.join(work, "result.json")) as fh:
        return setup, json.load(fh)


# ------------------------------------------------------------------ CDC

def stage(path, records):
    with open(path, "w") as fh:
        fh.writelines(r.line(STAGED_TS_MS + i) for i, r in enumerate(records))
    return os.path.getsize(path)


def run_cdc(args, cp, work, deadline):
    warm_path = os.path.join(work, "warm.jsonl")
    stage(warm_path, cdcgen.generate(args.seed + 1, BULK_RECORDS, id_base=10**9))
    records = cdcgen.generate(args.seed, BULK_RECORDS)
    exp = cdcgen.expectations(records)
    input_path = os.path.join(work, "input.jsonl")
    batch_bytes = int(stage(input_path, records) * 1.01)  # the whole input in one batch
    params = {"workload": args.workload, "workdir": work, "cores": CORES,
              "trace": args.trace, "input": input_path, "warm_input": warm_path,
              "batch_bytes": batch_bytes, "seconds": args.seconds,
              "min_rounds": MIN_ROUNDS}
    steal0 = steal_s()
    setup, res = launch(cp, params, work, deadline)
    steal = steal_s() - steal0

    spans, progress, failed, problems = [], [], 0, []
    for r, rnd in enumerate(res["rounds"]):
        wrong, unknown = checks.check_etl(exp, os.path.join(work, "out", str(r)))
        failed += len(wrong)
        problems += unknown
        if len(rnd["progress"]) != 1:
            raise BenchError(f"round {r} ran {len(rnd['progress'])} micro-batches, not one")
        p = rnd["progress"][0]
        # every record is staged when the query starts, and all commit together
        commit_ms = p["timestamp_ms"] + p["duration_ms"]["triggerExecution"]
        spans.append((commit_ms - rnd["query_start_ms"]) / 1000)
        progress.append(p)
    span_s = statistics.median(spans)
    e2e = {
        "setup_s": setup,
        "rec_per_s": len(exp["dest"]) / span_s,
        # one micro-batch per round: each record waits the whole span
        "latency_p50_ms": span_s * 1000,
        "latency_tail_ms": span_s * 1000,
        "suite_s": span_s,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    log(f"rounds {' '.join(f'{t:.2f}' for t in spans)} s; {failed} records failed a check")

    def durations(k):
        return statistics.median(p["duration_ms"].get(k, 0) for p in progress)
    layers = {
        "sources.scan_ms": res.get("scan_ms", 0),
        "sources.tasks_per_batch": res.get("tasks_per_batch", 0),
        "stream.latest_offset_ms": durations("latestOffset"),
        "ops.chain_ms": res.get("chain_ms", 0),
        "ops.records_in": res.get("records_in", 0),
        "ops.records_out": res.get("records_out", 0),
        "pipeline.add_batch_ms": durations("addBatch"),
        "pipeline.jobs_per_batch": res.get("jobs_per_batch", 0),
        "pipeline.write_parquet_ms": res.get("write_parquet_ms", 0),
        "pipeline.write_file_ms": res.get("write_file_ms", 0),
        "pipeline.dlq_ms": res.get("dlq_ms", 0),
        "pipeline.batches": 1,
        "stream.planning_ms": durations("queryPlanning"),
        "stream.wal_commit_ms": durations("walCommit"),
        "stream.commit_offsets_ms": durations("commitOffsets"),
        "stream.trigger_ms": durations("triggerExecution"),
        "host.steal_s": steal,
        "host.gc_ms": res["gc_ms"],
    }
    for plugin, v in res.get("processor_ms", {}).items():
        layers[f"ops.{plugin}_ms"] = v
    for k, v in res.get("spark", {}).items():
        layers[f"spark.{k}"] = v
    return dict(attempted=BULK_RECORDS * len(spans), failed=failed, problems=problems,
                e2e=e2e, layers=layers)


# ------------------------------------------------------------ analytics

def run_analytics(args, cp, work, deadline):
    order = list(QUERIES)
    random.Random(args.seed).shuffle(order)
    params = {"workload": args.workload, "workdir": work, "cores": CORES,
              "trace": args.trace, "data": DATA, "queries": ",".join(order),
              "seconds": args.seconds, "min_rounds": MIN_ROUNDS}
    steal0 = steal_s()
    setup, res = launch(cp, params, work, deadline)
    steal = steal_s() - steal0

    failing = dict(res["errors"])
    for q in order:
        if q not in failing:
            why = checks.check_query(q, res["oracle_sql"][q], os.path.join(work, "out"),
                                     DATA, CORES)
            if why is not None:
                failing[q] = why
    for q, why in failing.items():
        log(f"failed {q}: {why}")
    walls = {q: statistics.median(res["wall_ms"][q]) for q in order}
    suite_ms = sum(walls.values())
    e2e = {
        "setup_s": setup,
        "rec_per_s": res["rows_read_per_round"] / (suite_ms / 1000),
        "latency_p50_ms": statistics.median(w for q in order for w in res["wall_ms"][q]),
        "latency_tail_ms": max(walls.values()),
        "suite_s": suite_ms / 1000,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    per_round = [sum(res["wall_ms"][q][r] for q in order) / 1000 for r in range(res["rounds"])]
    log("cold pass " + " ".join(f"{q} {res['cold_ms'][q] / 1000:.2f}" for q in order)
        + " s; rounds " + " ".join(f"{t:.2f}" for t in per_round) + " s")
    layers = {f"q.{q}.wall_ms": w for q, w in walls.items()}
    for fam, qs in FAMILIES.items():
        layers[f"family.{fam}_s"] = sum(walls[q] for q in qs) / 1000
    for k, v in res.get("spark", {}).items():
        layers[f"spark.{k}"] = v
    layers["host.steal_s"] = steal
    layers["host.gc_ms"] = res["gc_ms"]
    return dict(attempted=res["rounds"] * len(order), failed=res["rounds"] * len(failing),
                problems=[], e2e=e2e, layers=layers)


WORKLOADS = {"cdc_bulk": run_cdc, "analytics_suite": run_analytics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    # on SIGTERM, unwind so that the engine JVMs are killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.perf_counter()
    try:
        cp = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    deadline = time.perf_counter() + RUN_LIMIT_S
    probe = host_probe_s()
    runs = os.path.join(build.BUILD, "runs")
    for old in os.listdir(runs) if os.path.isdir(runs) else []:
        # work directories of runs that were killed before they could clean up
        if not os.path.exists(f"/proc/{old.rsplit('-', 1)[-1]}"):
            shutil.rmtree(os.path.join(runs, old), ignore_errors=True)
    work = os.path.join(runs, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        out = WORKLOADS[args.workload](args, cp, work, deadline)
    except BenchError as e:
        log(f"run failed: {e}")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in out["problems"]:
        log(f"check failed: {p}")
    layers = dict.fromkeys(PER_LAYER, 0)
    layers.update(out["layers"], **{"host.probe_s": probe})
    log("end-to-end " + json.dumps(out["e2e"]))
    log(f"host probe {probe:.3f} s, steal {layers['host.steal_s']:.1f} s; "
        f"run took {time.perf_counter() - started:.1f} s")
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": layer_unit(k)} for k in PER_LAYER}
        traces = os.path.join(build.BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        trace_file = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
        with open(trace_file, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "metrics": metrics,
                       "end_to_end": out["e2e"]}, fh, indent=1)
        log(f"trace written to {os.path.relpath(trace_file, build.ROOT)}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in out["e2e"].items()}
    print(json.dumps({"correct": not out["problems"], "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
