"""Layered benchmark of the redshells_spark query registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run of a workload:

1. builds (or reuses) the workload's inputs under ``.perfbench_cache/``;
2. starts ``COLD_SAMPLES - 1`` fresh Spark processes, one after
   another, that each set up a session and run one cold pass of the
   workload's queries, to sample set-up time and the cold pass;
3. starts one more fresh Spark process that sets up, runs a cold pass
   and then warm passes of the workload's queries for ``--seconds`` (at
   least ``MIN_WARM_PASSES``), then checks every query's output against
   its DuckDB oracle.

Every Spark process runs ``local[nproc]`` with the program's defaults
otherwise, and runs the queries one after another (closed loop, one
client).

The seed sets the query order within a pass and salts the 10x replica.
The human-readable lines and the run record under
``.perfbench_cache/results/`` carry the seed; the measuring process's
own output (with the spans of a traced run) sits beside the record. The
last line of stdout is one JSON object with the metrics
``BENCHMARK.json`` declares: the end-to-end ones with ``--trace 0``, the
per-layer ones with ``--trace 1``.
See README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
TMP = os.path.join(CACHE, "tmp")
# Cold samples come from separate processes, a cold pass apart: a slow
# spell of the host then hits one sample of a run, not the run's only one.
COLD_SAMPLES = 2
# Warm metrics take the last MIN_WARM_PASSES warm passes; the ones before
# them, run while the JIT settles, are up to 30% slower.
MIN_WARM_PASSES = 3
RUN_DEADLINE_S = 170  # a run must end within 180 s

sys.path.insert(0, HERE)
import datagen  # noqa: E402

# Each workload puts most of its time in a different layer; README.md says
# which end-to-end metric each layer metric should move on which workload.
WORKLOADS: dict[str, dict] = {
    # small inputs, so the time goes to the driver and to first-call costs:
    # builders that run eager jobs per round (BFS supersteps, per-quantile
    # aggregations), module caches and Python UDF workers that the cold
    # pass pays for
    "iterative_corpus": {
        "sf": 0.01, "factor": 1,
        "queries": [
            "k_hop_reachability", "rfm_segmentation",
            "tfidf_top_tokens", "minhash_near_dedup", "pq_topk", "heavy_hitter_tokens",
            "word_item_retrieval",
        ],
    },
    # data-bound: scan, shuffle and task compute over a 10x replica, few jobs
    "relational_x10": {
        "sf": 0.1, "factor": 10,
        "queries": [
            "pricing_summary", "orders_rollup", "salted_aggregate", "windowed_event_counts",
            "q17_small_quantity_revenue", "value_percentiles",
        ],
    },
}


def spark_process(mode: str, out: str, extra: list[str], deadline: float) -> dict:
    """Run one ``spark_run.py`` process to completion and return its result.

    The child runs in its own process group; the whole group (Python, the
    driver JVM, Python UDF workers) is killed if it outlives ``deadline``
    and is waited for before returning either way.
    """
    t0 = time.time()
    cmd = [sys.executable, os.path.join(HERE, "spark_run.py"), "--mode", mode,
           "--t0", repr(t0), "--out", out, *extra]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    # Spark's shuffle and spill files and Python's temp files stay in the checkout
    env["SPARK_LOCAL_DIRS"] = env["TMPDIR"] = TMP
    # the child's stdout goes to our stderr: the last stdout line is ours
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    finally:
        _reap_group(proc.pid)
    if rc != 0:
        raise RuntimeError(f"{mode} process exited with code {rc}")
    print(f"# {mode} process took {time.time() - t0:.1f} s", file=sys.stderr)
    with open(out) as f:
        return json.load(f)


def _reap_group(pgid: int) -> None:
    """Kill what is left of a process group and wait until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(200):
        try:
            os.waitpid(pgid, os.WNOHANG)
        except ChildProcessError:
            pass
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    raise RuntimeError(f"process group {pgid} did not exit")


def tail(samples: list[float]) -> tuple[float, float]:
    """Highest percentile with at least 10 samples beyond it: (value, pct)."""
    s = sorted(samples)
    i = max(0, len(s) - 11)
    return s[i], 100.0 * (i + 1) / len(s)


def end_to_end(setups: list[float], colds: list[float], m: dict) -> tuple[dict, dict]:
    warm = m["passes"][-MIN_WARM_PASSES:]
    samples = [q["build_s"] + q["exec_s"] for p in warm for q in p["queries"] if "error" not in q]
    tail_s, tail_pct = tail(samples)
    return {
        "setup_s": statistics.median(setups),
        "cold_pass_s": statistics.median(colds),
        "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
        "query_p50_s": statistics.median(samples),
        "query_tail_s": tail_s,
        "driver_rss_peak_mb": m["rss_peak_mb"],
    }, {"tail_percentile": tail_pct, "warm_samples": len(samples), "warm_passes": len(warm)}


# (metric, span field, scale): summed over the spans of a pass
SPAN_SUMS = (
    ("sched.tasks", "tasks", 1),
    ("sched.tasks_failed", "tasks_failed", 1),
    ("sched.stage_retries", "stage_retries", 1),
    ("scan.bytes", "scan_bytes", 1),
    ("scan.rows", "scan_rows", 1),
    ("shuffle.write_bytes", "shuffle_write_bytes", 1),
    ("shuffle.read_bytes", "shuffle_read_bytes", 1),
    ("shuffle.fetch_wait_s", "fetch_wait_ms", 1e-3),
    ("shuffle.spill_bytes", "spill_bytes", 1),
    ("compute.run_s", "run_ms", 1e-3),
    ("compute.cpu_s", "cpu_ns", 1e-9),
    ("compute.gc_s", "gc_ms", 1e-3),
    ("udf.run_s", "udf_run_ms", 1e-3),
    ("udf.init_s", "udf_init_ms", 1e-3),
    ("udf.start_s", "udf_start_ms", 1e-3),
    ("udf.bytes_sent", "udf_sent_bytes", 1),
    ("udf.bytes_returned", "udf_returned_bytes", 1),
    ("driver.result_bytes", "result_bytes", 1),
)


def idle_s(p: dict, spans: list[dict]) -> float:
    """Pass wall time during which no stage of the pass was running."""
    busy, lo_run, hi_run = 0.0, None, None
    for lo, hi in sorted(iv for s in spans for iv in s["stage_intervals"]):
        lo, hi = max(lo / 1e3, p["start"]), min(hi / 1e3, p["end"])
        if hi <= lo:
            continue
        if hi_run is None or lo > hi_run:
            busy += 0.0 if hi_run is None else hi_run - lo_run
            lo_run, hi_run = lo, hi
        else:
            hi_run = max(hi_run, hi)
    busy += 0.0 if hi_run is None else hi_run - lo_run
    return max(0.0, p["end"] - p["start"] - busy)


def pass_layers(p: dict, spans: list[dict], out_rows: int, cores: int) -> dict:
    """Per-layer totals of one pass."""
    sums = {name: sum(s[field] for s in spans) * scale for name, field, scale in SPAN_SUMS}
    stages = sum(len(s["stages"]) for s in spans)
    return {
        "queries.build_s": sum(q.get("build_s", 0.0) for q in p["queries"]),
        "queries.build_jobs": sum(len(s["jobs"]) for s in spans if s["phase"] == "build"),
        "queries.exec_s": sum(q.get("exec_s", 0.0) for q in p["queries"]),
        "sched.jobs": sum(len(s["jobs"]) for s in spans),
        "sched.stages": stages,
        "sched.idle_s": idle_s(p, spans),
        "sched.stages_skipped_frac": sum(s["skipped_stages"] for s in spans) / max(1, stages),
        **sums,
        "scan.rows_per_output_row": sums["scan.rows"] / max(1, out_rows),
        "compute.core_util": sums["compute.run_s"] / (p["wall_s"] * cores),
        "compute.peak_mem_mb": max((s["peak_mem_bytes"] for s in spans), default=0) / 2**20,
        "cache.persisted_rdds": p["cache"]["persisted_rdds"],
        "cache.mem_mb": p["cache"]["cache_mem_bytes"] / 2**20,
        "trace.pass_s": p["wall_s"],
    }


def per_layer(m: dict, cores: int) -> dict:
    """Per-layer totals: ``cold.*`` of pass 0, ``warm.*`` the median of the last warm passes."""
    out_rows = sum(c["rows"] for c in m["check"].values())
    per_pass = [
        pass_layers(p, [s for s in m["spans"] if s["pass"] == p["pass"]], out_rows, cores)
        for p in m["passes"]
    ]
    out = {}
    for k in per_pass[0]:
        out[f"cold.{k}"] = per_pass[0][k]
        out[f"warm.{k}"] = statistics.median(pp[k] for pp in per_pass[-MIN_WARM_PASSES:])
    out["trace.collect_s"] = m["trace_collect_s"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds like an error, so the running Spark process is reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "redshells_spark", "queries", "__init__.py")):
        print("perfbench: redshells_spark not found next to perfbench/; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    units = {d["name"]: d["unit"] for d in declared["end_to_end"] + declared["per_layer"]}

    wl = WORKLOADS[args.workload]
    os.makedirs(f"{CACHE}/results", exist_ok=True)
    os.makedirs(TMP, exist_ok=True)
    data_dir, manifest = datagen.ensure_inputs(CACHE, wl["sf"], wl["factor"], args.seed)
    queries = list(wl["queries"])
    random.Random(args.seed).shuffle(queries)
    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}_s{args.seed}_t{args.trace}"
    print(f"# perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"cores={cores} inputs={data_dir} order={','.join(queries)}", file=sys.stderr)

    deadline = time.time() + RUN_DEADLINE_S
    run_args = ["--dir", data_dir, "--queries", ",".join(queries)]
    first_runs = [spark_process("cold", f"{CACHE}/results/{tag}_cold{i}.json", run_args, deadline)
                  for i in range(COLD_SAMPLES - 1)]
    m = spark_process("measure", f"{CACHE}/results/{tag}_measure.json", [
        *run_args, "--seconds", str(args.seconds),
        "--min-warm", str(MIN_WARM_PASSES), "--trace", str(args.trace),
    ], deadline)
    runs = [*first_runs, m]
    setups = [r["setup_s"] for r in runs]
    colds = [r["passes"][0]["wall_s"] for r in runs]

    errors = {q["name"]: q["error"] for r in runs for p in r["passes"] for q in p["queries"]
              if "error" in q}
    bad = {n: c["status"] for n, c in m["check"].items() if c["status"] != "OK"}
    failed_queries = sorted(set(errors) | set(bad))
    failed_frac = len(failed_queries) / len(queries)

    metrics, tail_info = end_to_end(setups, colds, m)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": cores,
        "order": queries, "inputs": manifest, "setups_s": setups, "cold_passes_s": colds,
        "end_to_end": metrics, **tail_info, "failed_frac": failed_frac,
        "failures": {n: errors.get(n) or bad[n] for n in failed_queries},
        "check": m["check"], "passes": m["passes"],
    }
    if args.trace:
        # end-to-end metrics too unsteady for a bound are reported here
        record["per_layer"] = {**per_layer(m, cores), **metrics}
    with open(f"{CACHE}/results/{tag}.json", "w") as f:
        json.dump(record, f, indent=1)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for k, v in metrics.items():
        print(f"{k:20s} {v:12.4f} {units[k]}")
    print(f"{'failed_frac':20s} {failed_frac:12.4f} 1")
    print(f"query_tail_s is p{tail_info['tail_percentile']:.1f} of "
          f"{tail_info['warm_samples']} samples over {tail_info['warm_passes']} warm passes")
    for n in failed_queries:
        print(f"FAILED {n}: {record['failures'][n]}")
    values = record["per_layer"] if args.trace else metrics
    names = [d["name"] for d in declared["per_layer" if args.trace else "end_to_end"]]
    print(json.dumps({"correct": not failed_queries, "attempted": len(queries),
                      "failed": len(failed_queries),
                      "metrics": {k: {"value": values[k], "unit": units[k]} for k in names}}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
