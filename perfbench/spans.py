"""Span arithmetic for the traced run: self times and per-layer totals."""
from collections import defaultdict

# span kind (or job / planning phase) -> the layer its self time belongs to
LAYER = {
    "pass": "bench", "step": "steps", "glue": "glue", "query": "queries",
    "build": "queries", "sink": "sink", "cache": "cache", "job": "exec",
    "parsing": "sql", "analysis": "sql", "optimization": "sql",
    "planning": "sql",
}
LAYERS = ("bench", "steps", "glue", "queries", "sql", "sink", "cache", "exec")


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(items):
    """Self time of every item: its duration minus the part of its
    interval that its children cover. Items are dicts with `id`,
    `parent`, `start` and `end`."""
    kids = defaultdict(list)
    for it in items:
        kids[it["parent"]].append((it["start"], it["end"]))
    return {it["id"]: (it["end"] - it["start"])
            - covered(it["start"], it["end"], kids[it["id"]]) for it in items}


def innermost(spans, start, end):
    """Id of the latest-starting span whose interval holds [start, end]."""
    best = None
    for s in spans:
        if s["start"] <= start and end <= s["end"]:
            if best is None or s["start"] >= best["start"]:
                best = s
    return None if best is None else best["id"]


def tree(pass_rec):
    """Spans, jobs and planning phases of one traced pass as one tree.
    Jobs hang under the span whose property they carry; phases under the
    innermost span that holds them in time."""
    spans = pass_rec["spans"]
    items = [dict(s) for s in spans]
    ids = {s["id"] for s in spans}
    for i, j in enumerate(pass_rec["jobs"]):
        if j["span"] in ids:
            items.append({"id": f"j{i}", "parent": j["span"], "kind": "job",
                          "start": j["start"], "end": j["end"]})
    for i, p in enumerate(pass_rec["phases"]):
        parent = innermost(spans, p["start"], p["end"])
        if parent is not None:
            items.append({"id": f"p{i}", "parent": parent, "kind": p["phase"],
                          "start": p["start"], "end": p["end"]})
    return items


def layer_self_seconds(pass_rec):
    """Self time per layer of one traced pass, in seconds. Jobs that run
    concurrently under one span (independent stages AQE submits together)
    count once, as the union of their intervals."""
    items = tree(pass_rec)
    st = self_times(items)
    out = dict.fromkeys(LAYERS, 0.0)
    jobs = defaultdict(list)
    for it in items:
        if it["kind"] == "job":
            jobs[it["parent"]].append((it["start"], it["end"]))
        else:
            out[LAYER.get(it["kind"], "bench")] += st[it["id"]] / 1e3
    for ivs in jobs.values():
        out["exec"] += covered(float("-inf"), float("inf"), ivs) / 1e3
    return out
