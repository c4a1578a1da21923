"""Metric names, units and how each is derived.

``BENCHMARK.json`` lists the same names; ``test_perfbench.py`` keeps the
two in step. Every listed workload reports every metric with a measured
value; only byte counts such as spill may read 0.
"""

from __future__ import annotations

#: name -> (unit, better, bound). Each workload defines its own work
#: unit and latency samples (see README.md). Timings get the widest
#: bound the benchmark format allows: on a 4-core guest that loses 5-11%
#: of its CPU to other guests, whole runs drift by about 7% and the
#: quartile spread over ten seeds reaches 0.15.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "throughput_per_s": ("1/s", "higher", 0.25),
    "latency_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MiB", "lower", 0.1),
}

SPARK_TOTALS = ("task_s", "cpu_s", "gc_s", "jobs", "stages", "tasks",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")

#: name -> (unit, better). The layers every workload crosses, after
#: ROADMAP aim 1: plan construction on the Python side, driver-side JVM
#: work, and executor work from Spark's event log. Spans per module
#: function (sinks.receipts.write, registry.q21_waiting_suppliers.construct,
#: ...) are in the trace file, because each exists on one workload only.
PER_LAYER = {
    "session.build_s": ("s", "lower"),
    "plan.construct_s": ("s/op", "lower"),
    "plan.construct_jobs": ("count/op", "lower"),
    "plan.execute_s": ("s/op", "lower"),
    "plan.execute_jobs": ("count/op", "lower"),
    "plan.construct_share": ("ratio", "lower"),
    "driver.python_cpu_s": ("s/op", "lower"),
    "driver.jvm_cpu_s": ("s/op", "lower"),
    "driver.jvm_outside_tasks_cpu_s": ("s/op", "lower"),
    **{f"spark.{k}": ("s/op" if k.endswith("_s") else
                      "bytes/op" if k.endswith("bytes") else "count/op", "lower")
       for k in SPARK_TOTALS},
    "spark.busy_share": ("ratio", "higher"),
}


def per_layer_values(tracer, spark_totals: dict, cpu: dict, ops: int,
                     wall_s: float, cores: int) -> dict[str, float]:
    """Per-layer numbers of a traced run, per timed op (set-up's session
    build excepted). ``cpu`` holds the timed window's CPU seconds of the
    driver Python process (``python``) and of the JVM (``jvm``)."""
    con_s, con_jobs = tracer.role_totals("construct")
    exe_s, exe_jobs = tracer.role_totals("execute")
    out = {
        "session.build_s": tracer.median_s("session.build", phase="setup"),
        "plan.construct_s": con_s / ops,
        "plan.construct_jobs": con_jobs / ops,
        "plan.execute_s": exe_s / ops,
        "plan.execute_jobs": exe_jobs / ops,
        "plan.construct_share": con_s / (con_s + exe_s),
        "driver.python_cpu_s": cpu["python"] / ops,
        "driver.jvm_cpu_s": cpu["jvm"] / ops,
        "driver.jvm_outside_tasks_cpu_s": (cpu["jvm"] - spark_totals["cpu_s"]) / ops,
    }
    for k in SPARK_TOTALS:
        out[f"spark.{k}"] = spark_totals[k] / ops
    out["spark.busy_share"] = spark_totals["task_s"] / (wall_s * cores)
    return out
