"""Freshness, capacity and backlog of a `stream_gold` run, from the
generator's file schedule, the micro-batches of the Gold and Silver
queries, and each query's file-source checkpoint log."""
import stats


def sink(raw, which):
    """Freshness of phase-A files, capacity over phase B, lines per
    batch and the backlog at each phase-B trigger, for one sink."""
    st = raw["stream"]
    files, batches = st["files"], st[f"{which}_batches"]
    b_start = st["phase_b_start_ms"]
    file_batch = stats.read_source_log(st[f"{which}_source_log"])
    commit = {b["batch"]: b["end_ms"] for b in batches}

    due_a = {f["name"]: f["due_ms"] for f in files if f["due_ms"] < b_start}
    fresh, _ = stats.freshness(due_a, file_batch, commit)
    _, missing = stats.freshness({f["name"]: f["due_ms"] for f in files},
                                 file_batch, commit)
    rows = {}
    for f in files:
        b = file_batch.get(f["name"])
        if b is not None:
            rows[b] = rows.get(b, 0) + f["lines"]

    # capacity: lines committed from the start of phase B until its
    # load is committed; at an offered rate above capacity, the drain
    # runs past the end of phase B and this is the drain rate
    after = [b for b in batches if b["end_ms"] > b_start]
    span_s = (max(b["end_ms"] for b in after) - b_start) / 1000.0 if after else 0.0
    capacity = sum(rows.get(b["batch"], 0) for b in after) / span_s if span_s > 0 else 0.0

    # backlog when each phase-B file lands: files written so far whose
    # Gold batch has not committed yet
    points = []
    for f in files:
        if f["due_ms"] < b_start:
            continue
        t = f["written_ms"]
        waiting = sum(1 for g in files if g["written_ms"] <= t
                      and commit.get(file_batch.get(g["name"]), float("inf")) > t)
        points.append((t / 1000.0, waiting))
    return {
        "freshness": fresh,
        "freshness_p50_s": stats.median(fresh) if fresh else 0.0,
        "capacity_eps": capacity,
        "rows_per_batch": [rows[b["batch"]] for b in batches if b["batch"] in rows],
        "backlog": [p[1] for p in points],
        "backlog_growing": stats.backlog_growing(points),
        "missing": missing,
    }


def compute(raw):
    gold, silver = sink(raw, "gold"), sink(raw, "silver")
    out = dict(gold)
    out["silver"] = silver
    out["write_amplification"] = raw.get("gold_write_amplification", 0.0)
    # every file reaches both sinks; phase A yields freshness samples
    out["attempted"] = 3
    out["failed"] = (int(gold["missing"] > 0) + int(silver["missing"] > 0)
                     + int(not gold["freshness"] or not silver["freshness"]))
    return out
