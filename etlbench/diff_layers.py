#!/usr/bin/env python3
"""Per-layer diff of two traced benchmark outputs.

Usage: python3 etlbench/diff_layers.py BASE NEW

BASE and NEW are files holding the standard output of one or more
traced runs (`run.py --trace 1`), for example one per workload, or
several seeds of one workload. Each run's `TRACE` line names its
workload; where a file holds several runs of a workload, each metric is
the median over them. For every workload in both files this prints,
for the cold and the traced warm pass, the layer self times (which add
up to the pass time), then the layer counts and totals, the kernel
throughputs and the per-query times, each with base, new and the change.
"""
import json
import statistics
import sys

SELF = [("self.build_s", "eager build (driver)"),
        ("self.catalyst_s", "catalyst analysis/optimizer/planning"),
        ("exec.job_wall_s", "spark jobs"),
        ("self.sinks_s", "sink writes outside jobs"),
        ("self.streaming_s", "streaming engine outside jobs"),
        ("exec.driver_gap_s", "driver gap in execution"),
        ("pass_s", "= pass")]


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.startswith("TRACE "):
                d = json.loads(line[len("TRACE "):])
                flat = dict(d["layers"])
                flat.update({f"query.{q}.cold_s": v for q, v in d["query_cold_s"].items()})
                flat.update({f"query.{q}.warm_s": v for q, v in d["query_warm_s"].items()})
                runs.setdefault(d["workload"], []).append(flat)
    return {w: {k: statistics.median(r[k] for r in rs if k in r)
                for k in set().union(*rs)} for w, rs in runs.items()}, \
        {w: len(rs) for w, rs in runs.items()}


def row(label, a, b):
    if a is None or b is None:
        return f"  {label:<44} {'-' if a is None else f'{a:.4g}':>12} " \
               f"{'-' if b is None else f'{b:.4g}':>12}"
    rel = f"{(b - a) / a * 100:+7.1f}%" if a else "        "
    return f"  {label:<44} {a:12.4g} {b:12.4g} {b - a:+12.4g} {rel}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, nb = load(sys.argv[1])
    new, nn = load(sys.argv[2])
    for w in sorted(set(base) & set(new)):
        a, b = base[w], new[w]
        print(f"== {w}  (base: {nb[w]} run(s), new: {nn[w]} run(s))")
        print(f"  {'':<44} {'base':>12} {'new':>12} {'delta':>12}")
        for kind in ("cold", "warm"):
            print(f" {kind} pass, self time by layer (s)")
            for key, label in SELF:
                print(row(label, a.get(f"{kind}.{key}"), b.get(f"{kind}.{key}")))
            print(f" {kind} pass, counts and totals")
            selfkeys = {f"{kind}.{k}" for k, _ in SELF}
            for k in sorted(k for k in set(a) | set(b)
                            if k.startswith(kind + ".") and k not in selfkeys):
                print(row(k[len(kind) + 1:], a.get(k), b.get(k)))
        print(" setup, host and tracing")
        for k in ("session.build_s", "tables.load_s", "host.steal_s", "host.load",
                  "trace.overhead_s"):
            print(row(k, a.get(k), b.get(k)))
        print(" kernels (rows/s, higher is better)")
        for k in sorted(k for k in set(a) | set(b) if k.startswith("kernels.")):
            print(row(k[len("kernels."):-len(".rows_per_s")], a.get(k), b.get(k)))
        print(" queries (s)")
        for k in sorted(k for k in set(a) | set(b) if k.startswith("query.")):
            print(row(k[len("query."):], a.get(k), b.get(k)))
    for w in sorted(set(base) ^ set(new)):
        print(f"== {w}: only in {'base' if w in base else 'new'}")


if __name__ == "__main__":
    main()
