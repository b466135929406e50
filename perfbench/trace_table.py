"""Render traced runs as a markdown per-layer table.

Usage (from the repository root):

    python3 perfbench/trace_table.py TRACE_JSON[:UNTRACED_STDOUT] ...

TRACE_JSON is what `perfbench/run.py --trace 1` keeps under
.bench_build/traces/: per span name the call count and summed wall, self
time, jobs, driver gap (span time covered by no job), task CPU, shuffle
write, spill and input bytes, plus the gauges. UNTRACED_STDOUT, the saved
output of a `--trace 0` run with the same workload and seed, adds the
tracing overhead: the traced run's median operation minus the untraced one's.
"""

import json
import sys


def fmt(x):
    return f"{x:.3f}" if isinstance(x, float) else str(x)


def render(arg):
    path, _, untraced = arg.partition(":")
    t = json.load(open(path))
    traced_ms = next(g["value"] for g in t["gauges"] if g["name"] == "trace.op_p50_ms")
    out = [f"### {t['workload']} (seed {t['seed']}, local[{t['cores']}], {t['seconds']} s)", ""]
    if untraced:
        plain_ms = json.loads(open(untraced).read().strip().splitlines()[-1])["metrics"]["op_p50_ms"]["value"]
        out += [f"Tracing overhead: {traced_ms - plain_ms:.0f} ms per operation "
                f"(median operation {traced_ms:.0f} ms traced, {plain_ms:.0f} ms untraced).", ""]
    out += [
        "| span | calls | wall_s | self_s | jobs | driver_gap_s | task_cpu_s | shuffle_write_B | spill_B | input_B |",
        "|---|---|---|---|---|---|---|---|---|---|"]
    for l in t["layers"]:
        out.append("| " + " | ".join([l["span"]] + [fmt(l[k]) for k in (
            "calls", "wall_s", "self_s", "jobs", "driver_gap_s", "task_cpu_s",
            "shuffle_write_bytes", "spill_bytes", "input_bytes")]) + " |")
    out += ["", "| gauge | value | unit | samples |", "|---|---|---|---|"]
    for g in t["gauges"]:
        if g["samples"]:
            out.append(f"| {g['name']} | {fmt(g['value'])} | {g['unit']} | {g['samples']} |")
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    print("\n".join(render(p) for p in sys.argv[1:]))
