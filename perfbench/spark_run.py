"""One Spark process of a benchmark run; ``run.py`` starts it.

Both modes start a session, run one action and report the set-up time,
then run one cold pass in the fresh process. ``--mode cold`` stops
there; ``--mode measure`` goes on with warm passes until ``--seconds``
of warm passes have elapsed (at least ``--min-warm``). Each query is
timed as its registry builder ``fn(spark, dir)`` followed by a full
materialisation into the noop sink. After the timed passes every query
is run once more, collected and compared with its DuckDB oracle, so the
check never warms the cold pass. With ``--trace 1`` each phase is
recorded as a span (see ``layers.py``).

The process writes one JSON document to ``--out`` and stops the JVM it
started before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def start_session(t0: float):
    from redshells_spark import get_spark_session

    spark = get_spark_session("perfbench", master=f"local[{len(os.sched_getaffinity(0))}]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.time() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, which in local mode also runs the tasks."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _error(e: Exception) -> str:
    first = (str(e).strip().splitlines() or [""])[0]
    return f"{type(e).__name__}: {first[:300]}"


def timed(tracer, pass_no: int, name: str, phase: str, fn):
    """Run ``fn`` as one phase of a query; returns (result, seconds)."""
    if tracer:
        tracer.open_span(pass_no, name, phase)
    t0, c0 = time.time(), time.perf_counter()
    result = fn()
    dt = time.perf_counter() - c0
    if tracer:
        tracer.close_span(pass_no, name, phase, t0, t0 + dt)
    return result, dt


def run_pass(spark, fns, names, data_dir, pass_no, tracer) -> dict:
    out = {"pass": pass_no, "start": time.time(), "queries": []}
    w0 = time.perf_counter()
    for name in names:
        q = {"name": name}
        try:
            df, q["build_s"] = timed(tracer, pass_no, name, "build", lambda: fns[name](spark, data_dir))
            _, q["exec_s"] = timed(
                tracer, pass_no, name, "exec",
                lambda: df.write.format("noop").mode("overwrite").save(),
            )
        except Exception as e:  # a failing query is recorded and the pass goes on
            q["error"] = _error(e)
        out["queries"].append(q)
    out["wall_s"] = time.perf_counter() - w0
    out["end"] = time.time()
    if tracer:
        out["cache"] = tracer.cache_state()
    return out


def check_outputs(spark, fns, names, data_dir) -> dict:
    """Compare each query's output with its DuckDB oracle.

    Uses ``tools/verify_local.py``'s canonical row form and dtype probe.
    A query without an oracle passes when it returns at least one row.
    """
    import duckdb
    from datagen import TABLES

    saved = list(sys.path)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        from verify_local import canon, dtype_mismatches
    finally:
        sys.path[:] = saved
    from redshells_spark.queries import get_oracles

    oracles = get_oracles()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in names:
        try:
            sdf = fns[name](spark, data_dir)
            scols, sdtypes = sdf.columns, sdf.dtypes
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # recorded as a failed query
            out[name] = {"status": f"SPARK ERROR: {_error(e)}", "rows": 0}
            continue
        if name not in oracles:
            out[name] = {"status": "OK" if srows else "rows-only: no rows", "rows": len(srows)}
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            bad = [f"DTYPE {b}" for b in dtype_mismatches(sdtypes, con, oracles[name])]
        except duckdb.Error as e:  # recorded as a failed query
            out[name] = {"status": f"ORACLE ERROR: {_error(e)}", "rows": len(srows)}
            continue
        if sorted(scols) != sorted(ocols):
            bad.append(f"COLS spark={sorted(scols)} oracle={sorted(ocols)}")
        elif len(srows) != len(orows):
            bad.append(f"COUNT spark={len(srows)} oracle={len(orows)}")
        elif canon(srows, scols) != canon(orows, ocols):
            bad.append("VALUES differ")
        out[name] = {"status": "; ".join(bad) or "OK", "rows": len(srows)}
    con.close()
    return out


def measure(spark, args) -> dict:
    from redshells_spark.queries import get_queries

    registry = get_queries()
    names = args.queries.split(",")
    fns = {n: registry[n] for n in names}
    tracer = None
    if args.trace:
        from layers import Tracer

        tracer = Tracer(spark)
    passes = [run_pass(spark, fns, names, args.dir, 0, tracer)]
    if args.mode == "cold":
        return {"passes": passes}
    warm_t0 = time.perf_counter()
    while len(passes) - 1 < args.min_warm or time.perf_counter() - warm_t0 < args.seconds:
        passes.append(run_pass(spark, fns, names, args.dir, len(passes), tracer))
    out = {"passes": passes, "rss_peak_mb": jvm_peak_rss_mb(spark)}
    if tracer:
        out["spans"] = tracer.spans
        out["trace_collect_s"] = tracer.collect_s
        # keep the check's jobs out of the last traced group
        spark.sparkContext.setJobGroup("check", "check")
    c0 = time.perf_counter()
    out["check"] = check_outputs(spark, fns, names, args.dir)
    out["check_s"] = time.perf_counter() - c0
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("cold", "measure"), required=True)
    ap.add_argument("--t0", type=float, required=True, help="epoch time the process was launched")
    ap.add_argument("--out", required=True)
    ap.add_argument("--dir")
    ap.add_argument("--queries")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--min-warm", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    spark, setup_s = start_session(args.t0)
    try:
        result = {"setup_s": setup_s, **measure(spark, args)}
    finally:
        stop_session(spark)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
