#!/usr/bin/env python3
"""Where the time goes, and what tracing costs.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 1
    ... (one untraced and one traced run for each seed)
    python3 perfbench/trace_table.py W N [N ...]

Prints markdown: span time by module call and Spark job time by the program
line that launched the job, from the traced run of the first seed; then the
traced run's overhead against the untraced run of the same seed, for each
seed, and the median over the seeds.
"""
import json
import os
import statistics
import sys

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".out")


def measured(harness, workload):
    """The quantities a workload's tracing overhead is judged on, taken over
    the same work in both modes: the sampled queries' total wall time and
    CPU time per query; or the first hour's freshness (an untraced run
    replays only that hour, so its CPU time per hour has no traced twin)."""
    if workload == "query_surface":
        return [("queries.total_s", harness["layers"]["queries.total_s"]["value"]),
                ("op_cpu_ms", harness["e2e"]["op_cpu_ms"]["value"])]
    return [("first-hour freshness s", harness["series"]["freshness_s"][0])]


def load(name):
    with open(os.path.join(OUT, name)) as f:
        return json.load(f)


def main(workload, seeds, top=15):
    seed = seeds[0]
    trace = load(f"trace-{workload}-seed{seed}.json")
    traced = load(f"run-{workload}-seed{seed}-trace1.json")
    plain = load(f"run-{workload}-seed{seed}-trace0.json")

    by_name = {}
    for s in trace["spans"]:
        t, n = by_name.get(s["name"], (0.0, 0))
        by_name[s["name"]] = (t + s["end_s"] - s["start_s"], n + 1)
    wall = traced["harness"]["wall_s"]
    print(f"### `{workload}` seed {seed}: span time by module call "
          f"(run wall {wall:.1f} s)\n")
    print("| module:call | calls | total s | share of wall |")
    print("|---|---:|---:|---:|")
    for name, (t, n) in sorted(by_name.items(), key=lambda kv: -kv[1][0]):
        print(f"| `{name}` | {n} | {t:.2f} | {t / wall:.1%} |")

    sites = trace["call_sites"]
    job_total = sum(s["job_s"] for s in sites) or 1.0
    print(f"\n### `{workload}` seed {seed}: Spark job time by call site "
          f"(top {top} of {len(sites)})\n")
    print("| call site | jobs | job s | share of job time |")
    print("|---|---:|---:|---:|")
    for s in sites[:top]:
        print(f"| `{s['call_site']}` | {s['jobs']} | {s['job_s']:.2f} | "
              f"{s['job_s'] / job_total:.1%} |")

    print(f"\n### `{workload}`: tracing overhead\n")
    print("| seed | quantity | untraced | traced | overhead |")
    print("|---|---|---:|---:|---:|")
    overheads = {}
    for s in seeds:
        plain = measured(load(f"run-{workload}-seed{s}-trace0.json")["harness"], workload)
        traced = measured(load(f"run-{workload}-seed{s}-trace1.json")["harness"], workload)
        for (m, a), (_, b) in zip(plain, traced):
            overheads.setdefault(m, []).append(b / a - 1)
            print(f"| {s} | {m} | {a:.3f} | {b:.3f} | {b / a - 1:+.1%} |")
    print()
    for m, xs in overheads.items():
        print(f"Median overhead of {m} over {len(xs)} seeds: "
              f"{statistics.median(xs):+.1%}.")
    print()


if __name__ == "__main__":
    main(sys.argv[1], [int(s) for s in sys.argv[2:]])
