"""Compare two sets of benchmark result records.

    python3 perfbench/compare.py --base A1.json A2.json ... --new B1.json B2.json ...

Each file is a record ``run.py`` wrote to ``.perfbench/results/``. For every
workload and metric it prints the median and quartiles of each side and the
change of the medians. It refuses (exit 2) when the two sides were measured
on different hosts or with different JVM settings. When a side holds
traced and untraced runs of one workload, it also prints the tracing
overhead: the traced ``run_pipeline`` wall minus the untraced one.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

# host facts that must match for two results to be comparable
HOST_KEYS = ("nproc", "ram_gb", "cpu_model", "jvm_heap_gb", "java", "spark", "cores_used")


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def host_of(records: list[dict]) -> dict:
    hosts = {json.dumps({k: r["host"].get(k) for k in HOST_KEYS}, sort_keys=True) for r in records}
    if len(hosts) != 1:
        raise SystemExit(f"compare: one side mixes hosts: {sorted(hosts)}")
    return json.loads(hosts.pop())


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], statistics.median(values), q[2]


def metric_table(records: list[dict]) -> dict[tuple, list[float]]:
    table: dict[tuple, list[float]] = {}
    for r in records:
        key = "per_layer" if r["trace"] else "end_to_end"
        for name, value in r.get(key, {}).items():
            table.setdefault((r["workload"], bool(r["trace"]), name), []).append(value)
    return table


def overhead(records: list[dict]) -> dict[str, float]:
    out = {}
    for w in sorted({r["workload"] for r in records}):
        plain = [r["end_to_end"]["pipeline_s"] for r in records
                 if r["workload"] == w and not r["trace"]]
        traced = [r["per_layer"]["pipeline.s"] for r in records
                  if r["workload"] == w and r["trace"]]
        if plain and traced:
            out[w] = statistics.median(traced) - statistics.median(plain)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.new)
    hb, hn = host_of(base), host_of(new)
    if hb != hn:
        print(f"compare: refusing to compare results across hosts:\n  base {hb}\n  new  {hn}",
              file=sys.stderr)
        return 2
    tb, tn = metric_table(base), metric_table(new)
    print(f"{'workload':8s} {'metric':34s} {'base q1/med/q3':>32s} {'new q1/med/q3':>32s} change")
    for key in sorted(set(tb) & set(tn)):
        b, n = quartiles(tb[key]), quartiles(tn[key])
        change = (n[1] - b[1]) / b[1] if b[1] else float("nan")
        fmt = "{:10.4g}/{:10.4g}/{:10.4g}"
        print(f"{key[0]:8s} {key[2]:34s} {fmt.format(*b):>32s} {fmt.format(*n):>32s} "
              f"{change:+.3f}  (n={len(tb[key])}/{len(tn[key])})")
    for side, recs in (("base", base), ("new", new)):
        for w, v in overhead(recs).items():
            print(f"tracing overhead {side} {w}: {v:+.3f} s per run_pipeline")
    return 0


if __name__ == "__main__":
    sys.exit(main())
