"""Per-layer report from a traced run.

    python3 perfbench/run.py --workload append_join --seed 1 --seconds 12 --trace 1
    python3 perfbench/run.py --workload append_join --seed 1 --seconds 12 --trace 0 > untraced.txt
    python3 perfbench/report.py .perfbench_out/trace-append_join-1.jsonl --untraced untraced.txt

Prints, for the refresh whose latency is the median of the traced
run, every span with its self time (duration minus the time its child
spans cover) and its exact counters; then the mean self time per
refresh of each layer; then the tracing overhead, which is the traced
``refresh_p50_s`` minus the untraced one from the same seed.
"""

from __future__ import annotations

import argparse
import json

from spans import span_self_times


def load(path: str):
    meta, spans, counts = None, [], []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            rec = json.loads(line)
            if "meta" in rec:
                meta = rec["meta"]
            elif "count" in rec:
                counts.append(rec["count"])
            else:
                spans.append(rec)
    return meta, spans, counts


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace")
    ap.add_argument("--untraced", help="stdout of an untraced run of the same seed")
    args = ap.parse_args(argv)

    meta, spans, counts = load(args.trace)
    selfs = span_self_times(spans)
    roots = [s for s in spans if s["parent"] is None and str(s["op"]).startswith("op")]
    if not roots:
        raise SystemExit("no refresh spans in the trace")
    roots.sort(key=lambda s: s["end"] - s["start"])
    pick = roots[(len(roots) - 1) // 2]
    op = pick["op"]
    print(f"{meta['workload']} seed {meta['seed']}: {len(roots)} traced "
          f"refreshes; median one is {op} "
          f"({pick['end'] - pick['start']:.4f} s)")
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def show(s, depth):
        print(f"  {'  ' * depth}{s['name']:<34s} self {selfs[s['id']]:.4f} s"
              f"   total {s['end'] - s['start']:.4f} s")
        for c in kids.get(s["id"], []):
            show(c, depth + 1)

    show(pick, 0)
    for c in counts:
        if c["op"] == op:
            print(f"    count {c['name']:<32s} {c['value']}")

    per_layer: dict[str, float] = {}
    ops = {s["op"] for s in roots}
    for s in spans:
        if s["op"] in ops:
            per_layer[s["name"]] = per_layer.get(s["name"], 0.0) + selfs[s["id"]]
    print("mean self time per refresh, by layer:")
    for name, t in sorted(per_layer.items(), key=lambda kv: -kv[1]):
        print(f"  {name:<36s} {t / len(ops):.4f} s")

    traced = meta["layers"]["trace.refresh_p50_s"]
    if args.untraced:
        with open(args.untraced, encoding="utf-8") as fh:
            last = [ln for ln in fh if ln.startswith("{")][-1]
        untraced = json.loads(last)["metrics"]["refresh_p50_s"]["value"]
        print(f"tracing overhead: refresh_p50_s traced {traced:.4f} s - "
              f"untraced {untraced:.4f} s = {traced - untraced:+.4f} s "
              f"({(traced - untraced) / untraced:+.1%})")
    else:
        print(f"traced refresh_p50_s {traced:.4f} s "
              f"(pass --untraced for the overhead)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
