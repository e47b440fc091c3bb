#!/usr/bin/env python3
"""Checker for a traced benchmark run's trace.json.

    python3 perfbench/tracecheck.py <trace.json>

Checks that every span nests inside its parent (within the trace's
resolution), that every op has all of its layer spans and every per-layer
counter, and that each op's self times, recomputed here from the spans,
sum to its wall time within the resolution.
"""
import json
import sys

REQUIRED = {
    "read": ["op", "engine.build", "exec.action", "catalyst.optimize", "catalyst.plan"],
    "registry": ["op", "engine.build", "exec.action", "catalyst.optimize", "catalyst.plan"],
    "write": ["op", "engine.build", "sinks.load", "catalyst.optimize", "catalyst.plan"],
}


def self_times(spans):
    """Sweep: each instant of the op belongs to the deepest span active then
    (ties to the later start, then to the later span in tree order)."""
    depth = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        d, p = 0, s["parent"]
        while p is not None:
            d, p = d + 1, by_id[p]["parent"]
        depth[s["id"]] = d
    cuts = sorted({t for s in spans for t in (s["start_us"], s["end_us"])})
    out = {s["id"]: 0 for s in spans}
    for x, y in zip(cuts, cuts[1:]):
        live = [s for s in spans if s["start_us"] <= x and s["end_us"] >= y]
        if live:
            best = max(live, key=lambda s: (depth[s["id"]], s["start_us"], s["id"]))
            out[best["id"]] += y - x
    return out


def check(trace, metric_names=()):
    res = trace["resolution_us"]
    problems = []
    spans_by_op = {}
    by_id = {s["id"]: s for s in trace["spans"]}
    for s in trace["spans"]:
        spans_by_op.setdefault(s["op"], []).append(s)
        if s["parent"] is None:
            continue
        p = by_id.get(s["parent"])
        if p is None or p["op"] != s["op"]:
            problems.append(f"span {s['id']} ({s['name']}) has no parent in its op")
        elif s["start_us"] < p["start_us"] - res or s["end_us"] > p["end_us"] + res:
            problems.append(f"span {s['id']} ({s['name']}) lies outside its parent {p['name']}")
    for o in trace["ops"]:
        if not o["ok"]:
            continue
        spans = spans_by_op.get(o["id"], [])
        names = {s["name"] for s in spans}
        missing = [n for n in REQUIRED[o["kind"]] if n not in names]
        if missing:
            problems.append(f"op {o['id']} lacks spans {missing}")
        lacking = [m for m in metric_names if m not in o["metrics"] and not m.endswith(".self_ms")
                   and not m.startswith(("session.", "trace."))]
        if lacking:
            problems.append(f"op {o['id']} lacks counters {lacking}")
        roots = [s for s in spans if s["parent"] is None]
        if len(roots) != 1 or roots[0]["end_us"] - roots[0]["start_us"] != o["wall_us"]:
            problems.append(f"op {o['id']} has no single root span of its wall time")
            continue
        mine = self_times(spans)
        if any(mine[s["id"]] != s["self_us"] for s in spans):
            problems.append(f"op {o['id']} self times differ from the harness's")
        if abs(sum(mine.values()) - o["wall_us"]) > res:
            problems.append(f"op {o['id']} self times sum to {sum(mine.values())} us, wall {o['wall_us']} us")
        if abs(sum(o["self_us"].values()) - o["wall_us"]) > res:
            problems.append(f"op {o['id']} layer self times do not sum to its wall time")
    return problems


def _span(i, name, op, parent, a, b, self_us):
    return {"id": i, "name": name, "op": op, "parent": parent, "start_us": a, "end_us": b,
            "self_us": self_us}


def selftest():
    """The checker accepts a well-formed trace and rejects three broken ones."""
    def trace(spans, self_by_layer):
        return {"resolution_us": 1000, "ops": [{"id": "op0", "kind": "read", "ok": True,
                "wall_us": 10000, "metrics": {}, "self_us": self_by_layer}], "spans": spans}
    good = [_span(0, "op", "op0", None, 0, 10000, 1000),
            _span(1, "engine.build", "op0", 0, 0, 4000, 4000),
            _span(2, "exec.action", "op0", 0, 4000, 9000, 2000),
            _span(3, "catalyst.optimize", "op0", 2, 4000, 5000, 1000),
            _span(4, "catalyst.plan", "op0", 2, 5000, 7000, 2000)]
    layers = {"harness": 1000, "engine": 4000, "exec": 2000, "catalyst": 3000}
    errors = []
    if check(trace(good, layers)):
        errors.append(f"a well-formed trace was rejected: {check(trace(good, layers))}")
    outside = [dict(s) for s in good]
    outside[3].update(start_us=1000)
    missing = [s for s in good if s["name"] != "catalyst.plan"]
    skewed = dict(layers, engine=9000)
    for name, t in (("a child outside its parent", trace(outside, layers)),
                    ("a missing layer span", trace(missing, layers)),
                    ("self times that miss the wall time", trace(good, skewed))):
        if not check(t):
            errors.append(f"{name} was accepted")
    return errors


if __name__ == "__main__":
    found = check(json.load(open(sys.argv[1])))
    for p in found:
        print(p)
    print(f"{len(found)} problems")
    sys.exit(1 if found else 0)
