"""Run one benchmark workload and print its metrics as the last line.

    python3 perfbench/run.py --workload star_queries --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/`` and removed afterwards; result files (and, with
``--trace 1``, the span trace and per-layer numbers) are kept in
``.perfbench_work/out/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: the engine runs as local[CPUS]; the issue fixes it for this benchmark
CPUS = 4


def _commit() -> str | None:
    """HEAD of the checkout when it is a git work tree, read without git."""
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    return None


def _source_digest() -> str:
    """Digest of the engine's sources, which names the code measured
    when the checkout is not a git work tree."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "fintech_etl_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(files):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    h.update(n.encode() + f.read())
    return h.hexdigest()[:16]


def _configure_env(work: str) -> None:
    """Keep every file Spark and the JVM write inside ``work``."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, spark-submit's launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def _session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a heap fixed at its maximum size: peak RSS then shows what the
        # engine holds, not when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit: closing its stdin
    is how pyspark's gateway process is told to end."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    from perfbench import metrics, stats
    from perfbench.trace import Tracer, event_log_totals
    from perfbench.workloads import WORKLOADS, Ledger

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    # fail before any work when the engine is not in the checkout
    import fintech_etl_spark
    from fintech_etl_spark.session import build_session

    if not os.path.abspath(fintech_etl_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"fintech_etl_spark imported from outside {ROOT}")

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    _configure_env(work)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    prov = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": _commit(), "source_digest": _source_digest(),
        "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "load_per_cpu_start": stats.load_per_cpu(),
    }
    ticks = stats.cpu_ticks()
    tracer = Tracer(run_id, enabled=trace)
    ledger = Ledger()
    wl = WORKLOADS[args.workload](work, args.seed, tracer, ledger)
    try:
        with contextlib.ExitStack() as stack:
            wl.open(stack)
            t = time.monotonic()
            prov["input_rows"] = wl.prepare()
            gen_s = time.monotonic() - t

            with tracer.span("session.build"):
                spark = build_session(f"perfbench-{args.workload}",
                                      extra_conf=_session_conf(work, trace))
            stack.callback(_stop_spark, spark)
            jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            tracer.attach(spark)
            tracer.phase = "warm"
            deferred_check = wl.warm(spark)
            setup_s = time.monotonic() - T_START - gen_s
            deferred_check()

            tracer.phase = "timed"
            attempted0 = ledger.attempted
            cpu0 = (time.process_time(), stats.proc_cpu_s(jvm_pid))
            t0, t0_ms = time.monotonic(), time.time() * 1000
            while time.monotonic() - t0 < args.seconds:
                wl.unit(spark)
            wall = time.monotonic() - t0
            t1_ms = time.time() * 1000
            cpu = {"python": time.process_time() - cpu0[0],
                   "jvm": stats.proc_cpu_s(jvm_pid) - cpu0[1]}
            timed_ops = ledger.attempted - attempted0
            tracer.phase = "check"
            wl.finish(spark)
            rss = stats.vm_hwm_mb(os.getpid()) + stats.vm_hwm_mb(jvm_pid)
        # the session is stopped here, so the event log is complete
        spark_totals = (event_log_totals(os.path.join(work, "eventlog"), t0_ms, t1_ms)
                        if trace else None)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if trace:
        accounted = tracer.accounting()
        if min(accounted.values(), default=1.0) < 0.95:
            ledger.fail("trace accounting", f"construct + execute below 95%: {accounted}")
    lat = stats.summarize(ledger.samples)
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": wl.throughput(wall),
        "latency_s": lat["typical"],
        "peak_rss_mb": rss,
    }
    prov["load_per_cpu_end"] = stats.load_per_cpu()
    prov["cpu_steal_share"] = stats.steal_share(ticks, stats.cpu_ticks())
    detail = {
        "provenance": prov, "e2e": e2e, "latency": lat, "timed_wall_s": wall,
        "unit": wl.unit_name, "work_units": ledger.work, "gen_s": gen_s,
        "attempted": ledger.attempted, "failed": ledger.failed,
        "failed_ops_ratio": ledger.failed / max(1, ledger.attempted),
        "errors": ledger.errors, "samples": ledger.samples, "cpu_s": cpu,
    }
    result_path = os.path.join(out_dir, f"{run_id}.json")
    if trace:
        values = metrics.per_layer_values(tracer, spark_totals, cpu, timed_ops, wall, CPUS)
        detail["spark_totals"] = spark_totals
        detail["per_layer"] = values
        detail["accounted_min"] = min(accounted.values(), default=1.0)
        untraced = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base_e2e = json.load(f)["e2e"]
            detail["trace_overhead"] = {k: e2e[k] - base_e2e[k] for k in e2e}
        tracer.dump(os.path.join(out_dir, f"{run_id}.trace.json"), detail)
        shown = {k: {"value": v, "unit": metrics.PER_LAYER[k][0]} for k, v in values.items()}
    else:
        shown = {k: {"value": v, "unit": metrics.END_TO_END[k][0]} for k, v in e2e.items()}
    with open(result_path, "w") as f:
        json.dump(detail, f, indent=1)

    for err in ledger.errors:
        print(err, file=sys.stderr)
    print(json.dumps({k: detail[k] for k in ("provenance", "latency", "failed_ops_ratio")}))
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": shown,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
