"""The measured process: one Spark session on ``local[4]`` runs one query
at a time in a closed loop and writes its figures as JSON.

Protocol (all times are wall clock):

1. Session build: from the start of this process (the time ``run.py``
   launched it) to a built session: interpreter, ``clif_spark`` imports,
   JVM launch. This is ``setup_s``.
2. One pass over the workload on that fresh session: ``pass_s``. A
   one-shot ETL job pays this pass in full, JIT and codegen warm-up
   included, so nothing is warmed before it. Every query execution builds
   its plan fresh through ``QueryDef.fn(spark, data_dir)`` and then calls
   ``collect()``; only those two calls are timed. The queries run in a
   permutation drawn from the seed.

Every result is hashed after its timing ends and checked against
``expected.json``. A query that raises or returns a wrong result counts
as failed and the run goes on. A traced run traces that same pass, so
its per-layer figures split the very pass that ``pass_s`` times.

Usage (normally started by run.py):
  python3 engine.py <workload> <seed> <trace> <data_dir> <out>
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import resource
import sys
import time
import traceback

T_START = float(os.environ.get("PERFBENCH_T0", time.time()))

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spec  # noqa: E402

HARNESS_CONFS = {"spark.ui.showConsoleProgress": "false"}


def calib_ms() -> float:
    """A fixed pure-CPU loop (200k chained md5) that shows the host's
    speed phase at the time of the run."""
    t0 = time.perf_counter()
    h = b"x"
    for _ in range(200_000):
        h = hashlib.md5(h).digest()
    return (time.perf_counter() - t0) * 1e3


def main(workload: str, seed: int, traced: bool, data_dir: str,
         out_path: str) -> None:
    from clif_spark.queries import collect_registry
    from clif_spark.session import build_session

    registry = collect_registry()
    queries = spec.WORKLOADS[workload]
    expected = spec.load_expected()
    run_id = f"{workload}-{seed}-{os.getpid()}"
    tracer = None
    phase = lambda *_: contextlib.nullcontext()  # noqa: E731
    if traced:
        from layers import Tracer
        tracer = Tracer(run_id)
        phase = tracer.phase

    spark = build_session(app_name="perfbench", extra_confs=HARNESS_CONFS)
    spark.sparkContext.setLogLevel("ERROR")
    setup_s = time.time() - T_START
    calib_start = calib_ms()

    attempted = failed = 0
    failures: list[str] = []
    if tracer:
        tracer.spark = spark
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        tracer.start_pass()
    pass_s = 0.0
    for name in spec.pass_order(queries, seed):
        attempted += 1
        t0 = time.perf_counter()
        try:
            with phase(name, "build"):
                df = registry[name].fn(spark, data_dir)
            with phase(name, "exec"):
                rows = df.collect()
        except Exception as exc:  # counted, the run goes on
            pass_s += time.perf_counter() - t0
            traceback.print_exc()
            failed += 1
            failures.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
            continue
        pass_s += time.perf_counter() - t0
        if tracer:
            tracer.after_exec(df)
        if not spec.check(expected[name], rows, df.columns):
            failed += 1
            failures.append(f"{name}: result differs from the oracle")
    calib_end = calib_ms()

    record = {
        "workload": workload, "seed": seed, "cpus": spec.CPUS,
        "sf": spec.SF, "traced": traced,
        "confs": {k: spark.conf.get(k) for k in (
            "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")},
        "setup_s": setup_s, "pass_s": pass_s,
        "attempted": attempted, "failed": failed, "failures": failures,
        "calib_ms": calib_start, "calib_end_ms": calib_end,
    }
    if tracer:
        layer = tracer.end_pass(pass_s, spec.ALL_QUERIES)
        layer["session.build_s"] = setup_s
        layer["trace.pass_s"] = pass_s
        record["layers"] = layer
        tracer.write(os.path.join(os.path.dirname(out_path), "spans.jsonl"))
    jvm_hwm_kb = _vm_hwm_kb(spark.sparkContext._gateway.proc.pid)
    spark.stop()
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    record["peak_rss_mb"] = (jvm_hwm_kb + py_kb) / 1024
    with open(out_path, "w") as f:
        json.dump(record, f)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


if __name__ == "__main__":
    w, seed, tr, data, out = sys.argv[1:6]
    main(w, int(seed), tr == "1", data, out)
