"""Writes a traced run's spans to a JSON file with each span's self
time: its wall time minus the time its child spans cover."""
import json
import re


def self_times(spans):
    """span id -> self seconds (wall minus the union of its children)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_s"]):
            a, b = max(c["start_s"], s["start_s"]), min(c["end_s"], s["end_s"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end_s"] - s["start_s"]) - covered
    return out


def layer(name):
    return re.sub(r"#\d+$", "", name)


def write(raw, workload, path):
    """Write the trace file; return the median share of each root
    span's wall time that its subtree's self times account for."""
    spans = raw.get("trace", [])
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    totals = {}
    for s in spans:
        totals[layer(s["name"])] = totals.get(layer(s["name"]), 0.0) + selfs[s["id"]]

    def root_of(s):
        while s["parent"] >= 0:
            s = by_id[s["parent"]]
        return s["id"]

    # roots with children: the traced pipeline runs (a query span has none)
    shares = []
    for r in spans:
        if r["parent"] >= 0 or not any(s["parent"] == r["id"] for s in spans):
            continue
        sub = sum(selfs[s["id"]] for s in spans if root_of(s) == r["id"])
        shares.append(sub / (r["end_s"] - r["start_s"]))
    with open(path, "w") as f:
        json.dump({"workload": workload,
                   "self_s_by_layer": totals,
                   "spans": [dict(s, self_s=selfs[s["id"]]) for s in spans]},
                  f, indent=1)
    shares.sort()
    return shares[len(shares) // 2] if shares else 0.0
