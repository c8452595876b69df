"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload build|refresh --seed N --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it holds the host record. The full record
(samples, pipeline receipts, and with ``--trace 1`` every span) is written
to ``.perfbench/results/``. Scratch files live under ``.perfbench/tmp/<pid>``
and ``.perfbench/refresh-live`` and are removed at exit.

The refresh workload starts from a base store built once per checkout and
per source version (``.perfbench/refresh-base-<hash>``). The first run in a
checkout, of either workload, builds it in a child process
(``--workload refresh-base``), so that later runs stay short and every timed
refresh runs in a JVM that has not built anything.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("build", "refresh", "refresh-base")


def _bench_metric_names() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def _stop_jvm(jvm_pid: int | None) -> None:
    """Close the py4j gateway and wait until the JVM and the Python workers
    it started have exited."""
    from pyspark import SparkContext

    from perfbench.host import descendants

    children = descendants(jvm_pid) if jvm_pid else []
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # subprocess.TimeoutExpired: the JVM ignored EOF
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in [jvm_pid, *children] if p and os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _restore(base: str, live: str) -> None:
    """Make ``live`` a copy of ``base``, file mtimes included: the store's
    input manifest fingerprints corpus files by (size, mtime)."""
    shutil.rmtree(live, ignore_errors=True)
    shutil.copytree(base, live)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "coco_search_spark")):
        print(
            "perfbench: the engine package coco_search_spark is not beside "
            "perfbench/; run from a full checkout",
            file=sys.stderr,
        )
        return 2

    sys.path.insert(0, REPO)
    from perfbench import host, workloads

    killed = host.reap_stray_jvms()
    state = os.path.join(REPO, ".perfbench")
    work = os.path.join(state, "tmp", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    # everything a run writes stays under its work dir: Python and JVM temp
    # files, Spark's local dirs; Python workers import the engine from here
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{host.jvm_heap_gb()}g"
    # appended to the engine's own JVM options, which stay as session.py sets them
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    import tempfile

    tempfile.tempdir = work
    live = os.path.join(state, "refresh-live")
    base = os.path.join(state, "refresh-base-" + host.tree_hash(REPO, ("coco_search_spark", "perfbench")))
    record = None
    try:
        if args.workload != "refresh-base" and not os.path.isdir(base):
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", "refresh-base",
                 "--seed", "0", "--seconds", "0"],
                check=True, timeout=600, stdout=subprocess.DEVNULL,
            )
        if args.workload == "refresh":
            _restore(base, live)
        record = workloads.run(
            args.workload, args.seed, args.seconds, bool(args.trace), work, T_PROCESS, live
        )
    finally:
        _stop_jvm(record["jvm_pid"] if record else None)
        shutil.rmtree(work, ignore_errors=True)
        if args.workload != "refresh-base" or record is None:
            shutil.rmtree(live, ignore_errors=True)
    if args.workload == "refresh-base":
        for name in os.listdir(state):  # bases of other source versions
            if name.startswith("refresh-base-"):
                shutil.rmtree(os.path.join(state, name), ignore_errors=True)
        tmp = base + ".tmp"
        shutil.copytree(live, tmp)
        os.replace(tmp, base)
        shutil.rmtree(live, ignore_errors=True)
        return 0

    record["host"].update(host.source_identity(REPO))
    record["host"]["stray_jvms_killed"] = killed
    results = os.path.join(state, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    e2e_spec, layer_spec = _bench_metric_names()
    if args.trace:
        spec, values = layer_spec, record["per_layer"]
    else:
        spec, values = e2e_spec, record["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    print(json.dumps({"host": record["host"], "steal_pct": record["steal_pct"],
                      "samples": record["samples"], "failures": record["failures"]}))
    print(
        json.dumps(
            {
                "correct": not record["failures"],
                "attempted": record["attempted"],
                "failed": len(record["failures"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
