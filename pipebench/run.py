"""Benchmark of the cut -> tile -> re-cut pipeline.

    python3 pipebench/run.py --workload cut_tile --seed 1 --seconds 36 --trace 0

Run from the root of a source checkout.  The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
line before it is the full record (host facts, input sizes, samples,
percentiles).  See README.md in this directory."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# fixed JVM heap, committed up front (-Xms = -Xmx): the library's default
# heap is sized for a 32-core host, and a heap left to grow on demand
# makes the JVM's resident size differ from run to run
HEAP = "3g"
SETUP_REPEATS = 3
# untimed passes run until this much time has gone into them (at least
# one): the JIT keeps compiling for several seconds after the first pass,
# and a fixed pass count would leave short-op workloads still warming
WARMUP_S = 7.0

E2E_UNITS = {
    "setup_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s", "op_tail_s": "s",
    "read_p50_s": "s", "read_tail_s": "s", "stored_bytes_per_row": "B/row",
    "peak_rss_mb": "MB", "success_rate": "share",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, cores: int) -> None:
    """Everything the run writes stays under ``work``, and the driver, the
    JVM and every Python worker import ``osmgraft`` from this checkout."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Xms{HEAP} -Djava.io.tmpdir={os.path.join(work, 'tmp')}' pyspark-shell"
    )
    os.environ.pop("SPARK_GRAFT_ARROW_BATCH", None)
    sys.path[:0] = [ROOT, HERE]


def check_imports(spark, cores: int) -> None:
    """Fail unless the driver and the workers load ``osmgraft`` from this
    checkout; a stale copy elsewhere would measure other code."""
    import osmgraft

    want = os.path.join(ROOT, "osmgraft", "__init__.py")

    def where(batches):
        import osmgraft as o
        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"f": [os.path.abspath(o.__file__)]})

    found = {
        r["f"] for r in spark.range(0, cores * 2, 1, cores * 2).mapInPandas(where, "f string").collect()
    }
    found.add(os.path.abspath(osmgraft.__file__))
    if found != {want}:
        raise RuntimeError(f"osmgraft imported from {sorted(found)}, expected {want}")


def stop_spark(spark) -> None:
    """Stop the context, then end the JVM and wait for it."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
        proc.wait(timeout=60)


class Ctx:
    def __init__(self, spark, work, seed, cores):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores


def main(argv=None) -> int:
    args = parse_args(argv)
    t_launch = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "osmgraft", "__init__.py")):
        print(f"no osmgraft package under {ROOT}: run from a source checkout", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".pipebench_work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work, cores)

    from measure import PeakPss, Tracer, median, tail
    from osmgraft.session import get_spark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    spark = get_spark(app=f"pipebench-{args.workload}", cores=cores)
    try:
        check_imports(spark, cores)
        session_s = time.perf_counter() - t_launch
        ctx = Ctx(spark, work, args.seed, cores)
        wl = WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        sizes = wl.prepare()
        gen_s = time.perf_counter() - t0

        setup_samples = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup()
            setup_samples.append(time.perf_counter() - t0)
        warm_s = []
        while not warm_s or sum(warm_s) < WARMUP_S:
            t0 = time.perf_counter()
            wl.drop(len(warm_s) - 1)
            wl.op(len(warm_s))
            wl.reads(len(warm_s))
            warm_s.append(time.perf_counter() - t0)
        spark.sparkContext._jvm.System.gc()  # settle the heap before the clock

        tr = Tracer(spark) if args.trace else None
        ops, reads, traced_pass = [], [], []
        attempted = failed = 0
        rows_total = 0
        errors: list[str] = []
        i = len(warm_s) - 1
        with PeakPss() as pss:
            pss.active.set()
            t_start = time.perf_counter()
            step_s: list[float] = []
            while True:
                # start another op only if a typical one ends no more than
                # half its length past the window, so windows average out
                # to the requested seconds
                left = args.seconds - (time.perf_counter() - t_start)
                if left <= (median(step_s) / 2 if step_s else 0.0):
                    break
                t_step = time.perf_counter()
                i += 1
                wl.drop(i - 1)
                traced = bool(tr) and (i - len(warm_s)) % 2 == 1
                attempted += 1
                try:
                    t0 = time.perf_counter()
                    if traced:
                        tr.pass_no = i
                        rows, ok, pass_s = wl.traced_op(i, tr)
                        traced_pass.append(pass_s)
                    else:
                        rows, ok = wl.op(i)
                        dt = time.perf_counter() - t0
                        ops.append(dt)
                        rows_total += rows
                    if not ok:
                        failed += 1
                        errors.append(f"op {i}: output check failed")
                    for dt, ok in wl.reads(i, tr if traced else None):
                        attempted += 1
                        if not traced:
                            reads.append(dt)
                        if not ok:
                            failed += 1
                            errors.append(f"op {i}: read check failed")
                except Exception:  # keep the loop running; the failure is counted
                    failed += 1
                    errors.append(f"op {i}: raised")
                    traceback.print_exc()
                step_s.append(time.perf_counter() - t_step)
            window_s = time.perf_counter() - t_start
            pss.active.clear()
        stored_bytes, stored_rows = wl.stored(i)
        t0 = time.perf_counter()
        try:
            check_errors = wl.check(i)
        except Exception:
            traceback.print_exc()
            check_errors = ["correctness check raised"]
        check_s = time.perf_counter() - t0
        if check_errors:
            failed += 1
            errors += check_errors
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t0

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": {"cores": cores, "master": f"local[{cores}]", "heap": HEAP,
                 "clients": 1, "loop": "closed"},
        "inputs": sizes,
        "setup": {"session_s": session_s, "generate_s": gen_s, "setup_samples_s": setup_samples,
                  "warmup_pass_s": warm_s},
        "check_s": check_s, "stop_s": stop_s, "window_s": window_s, "op_samples_s": ops, "read_samples_s": reads,
        "peak_pss_mb": pss.peak_mb, "largest_process_pss_mb": pss.peak_largest_mb,
        "attempted": attempted, "failed": failed, "errors": errors,
    }
    if args.trace:
        from layers import layer_metrics

        metrics = layer_metrics(tr, traced_pass, ops, pss.peak_largest_mb)
        record["traced_pass_s"] = traced_pass
        record["spans"] = tr.dump()
    else:
        op_tail, read_tail = tail(ops), tail(reads)
        record["op_tail"], record["read_tail"] = op_tail, read_tail
        record["error_rate"] = failed / attempted
        values = {
            "setup_s": median(setup_samples) + warm_s[0],
            "rows_per_s": rows_total / sum(ops),
            "op_p50_s": median(ops),
            "op_tail_s": op_tail["value"],
            "read_p50_s": median(reads),
            "read_tail_s": read_tail["value"],
            "stored_bytes_per_row": stored_bytes / stored_rows,
            "peak_rss_mb": pss.peak_mb,
            "success_rate": 1 - failed / attempted,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    record["metrics"] = metrics
    shutil.rmtree(work, ignore_errors=True)
    record["total_s"] = time.perf_counter() - t_launch
    records = os.path.join(ROOT, ".pipebench_work", "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: v for k, v in record.items() if k != "spans"}))
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
