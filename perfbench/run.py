"""Benchmark entry point.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
      --trace <0|1>

Run from the repository root. Workloads and their queries are in
``spec.py``; metric names and units come from ``BENCHMARK.json``.

Each run owns a temp area under ``.perfbench/`` in the checkout: the
inputs, ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and the JVMs'
``java.io.tmpdir``. The engine runs in a
child process (``engine.py``) in its own session. After it exits,
the MB the queries left in ``TMPDIR`` are measured (``disk_left_mb``)
and the whole area is deleted. A traced run keeps its spans in
``.perfbench/traces/<run id>.jsonl``.

A run measures one pass over its workload on a fresh session, whatever
``--seconds`` says: the pass is the unit of work (25-35 s on 4 cores),
and ``BENCHMARK.json``'s ``run_seconds`` states its size.

Standard output: one line with the full run record (host context, every
pass, failures), then the result line ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics, or with ``--trace 1`` the
per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
TIMEOUT_S = 160  # the engine's share of the 180 s a run may take

sys.path.insert(0, HERE)

import spec  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()
    if not os.path.isdir(os.path.join(ROOT, "clif_spark")):
        print("clif_spark not found next to perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    area = os.path.join(STATE, f"run-{os.getpid()}-{time.time_ns()}")
    dirs = {k: os.path.join(area, k)
            for k in ("data", "tmp", "local", "jvm")}
    try:
        for d in dirs.values():
            os.makedirs(d)
        import gen
        gen.write(dirs["data"])
        out = os.path.join(area, "record.json")
        env = dict(os.environ, TMPDIR=dirs["tmp"],
                   SPARK_LOCAL_DIRS=dirs["local"],
                   SPARK_GRAFT_CPUS=str(spec.CPUS),
                   # the JVMs' own temp files (native libs, artifacts)
                   JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['jvm']} "
                                     "-XX:-UsePerfData",
                   PYTHONPATH=os.pathsep.join(
                       filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
                   PERFBENCH_T0=repr(time.time()))
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), args.workload,
             str(args.seed), str(args.trace), dirs["data"], out],
            cwd=area, env=env, stdout=sys.stderr, start_new_session=True)
        try:
            code = child.wait(timeout=TIMEOUT_S - (time.time() - t0))
        except subprocess.TimeoutExpired:
            code = None
        _reap(child.pid)
        if code != 0:
            print(f"engine failed (exit {code})", file=sys.stderr)
            return 1
        with open(out) as f:
            record = json.load(f)
        record["seconds"] = args.seconds
        record["disk_left_mb"] = _mb(dirs["tmp"])
        spans = os.path.join(area, "spans.jsonl")
        if os.path.exists(spans):
            traces = os.path.join(STATE, "traces")
            os.makedirs(traces, exist_ok=True)
            run_id = os.path.basename(area)
            shutil.move(spans, os.path.join(traces, f"{run_id}.jsonl"))
    finally:
        shutil.rmtree(area, ignore_errors=True)

    values = dict(record.get("layers", {}), **record)
    values["fail_frac"] = record["failed"] / record["attempted"]
    metrics = bench["per_layer"] if args.trace else bench["end_to_end"]
    print(json.dumps(record))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"], "failed": record["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in metrics}}))
    return 0


def _mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.lstat(os.path.join(d, f)).st_size
    return total / (1 << 20)


def _session(sid: int) -> list[int]:
    """Live processes of session ``sid``: the engine, its JVM and the
    Python workers, which put themselves in process groups of their own."""
    pids = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                pids.append(int(p))
    return pids


def _reap(sid: int) -> None:
    """Stop every process the engine started and wait until all ended."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in _session(sid) if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5
        while _session(sid) and time.time() < deadline:
            time.sleep(0.1)
        if not _session(sid):
            break
    try:
        os.waitpid(sid, 0)
    except ChildProcessError:
        pass


if __name__ == "__main__":
    sys.exit(main())
