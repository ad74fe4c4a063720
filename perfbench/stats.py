"""Arithmetic of the benchmark: percentiles, open-loop latency, span self time."""
import statistics

# Tail percentiles tried from the highest down; the reported tail is the
# highest one with at least MIN_BEYOND samples above it. The ladder stops
# at p90: on stream, p99 of messages is set by the slowest one or two
# micro-batches of a run and moved by +-16% between runs of the same
# code, p90 by +-6%.
TAIL_LADDER = (90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile of an unsorted list (p in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100)
    return xs[int(rank) - 1]


def tail_rank(n):
    """Highest ladder percentile with >= MIN_BEYOND of n samples beyond it."""
    for p in TAIL_LADDER:
        if n - -(-n * p // 100) >= MIN_BEYOND:
            return p
    return None


def summarize(values):
    """Median and supported tail of a sample, with its count."""
    n = len(values)
    p = tail_rank(n)
    return {"n": n, "p50": percentile(values, 50) if n else None,
            "tail_pct": p, "tail": percentile(values, p) if p else None}


def median(values):
    return statistics.median(values)


def open_loop_latency_ms(due_us, committed_us):
    """Latency of one message in an open loop: from the time it was due
    to be sent (not when the sender got to it) to the commit of the
    micro-batch that emitted it."""
    return (committed_us - due_us) / 1000.0


def window_latencies(batches, w0_us, w1_us):
    """Latencies (ms) of the messages due in [w0_us, w1_us), from
    batches given as (commit time µs, [due time µs of each message])."""
    return [open_loop_latency_ms(d, commit) for commit, dues in batches
            for d in dues if w0_us <= d < w1_us]


# -- spans -------------------------------------------------------------

def assign_parents(spans, tol_us=2000):
    """Give spans recorded by listeners (parent == -2) the smallest span
    that contains them (within tol_us, as listener times are whole
    milliseconds); clamp them to that parent. Returns a new list."""
    out = [dict(s) for s in spans]
    by_id = {s["id"]: s for s in out}
    listener = {s["id"] for s in out if s["parent"] == -2}
    dur = lambda x: x["end_us"] - x["start_us"]
    for s in out:
        if s["id"] not in listener:
            continue
        best = None
        for c in out:
            if c is s or c["id"] in listener and dur(c) <= dur(s):
                continue
            if c["start_us"] - tol_us <= s["start_us"] and s["end_us"] <= c["end_us"] + tol_us:
                if best is None or c["end_us"] - c["start_us"] < best["end_us"] - best["start_us"]:
                    best = c
        s["parent"] = best["id"] if best else -1
        if best:
            s["start_us"] = max(s["start_us"], best["start_us"])
            s["end_us"] = max(s["start_us"], min(s["end_us"], best["end_us"]))
    # a span must not be its own ancestor
    for s in out:
        seen, p = {s["id"]}, s["parent"]
        while p >= 0:
            if p in seen:
                s["parent"] = -1
                break
            seen.add(p)
            p = by_id[p]["parent"] if p in by_id else -1
    return out


def self_times(spans, root_id):
    """Attribute every instant of the root span to exactly one span: the
    deepest span active at that instant (the latest-started on a tie),
    and sum per layer. Where children never overlap this is the usual
    self time, duration minus the time children cover. The root's own
    share is the time no other span covers. The per-layer sums add up
    to the root's duration exactly."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    tree, depth, stack = [], {}, [(by_id[root_id], 0)]
    while stack:
        s, d = stack.pop()
        depth[s["id"]] = d
        tree.append(s)
        stack += [(c, d + 1) for c in kids.get(s["id"], [])]
    root = by_id[root_id]
    lo, hi = root["start_us"], root["end_us"]
    cuts = sorted({lo, hi} | {min(max(t, lo), hi) for s in tree
                              for t in (s["start_us"], s["end_us"])})
    per_layer = {}
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        active = [s for s in tree if s["start_us"] <= a and s["end_us"] >= b]
        top = max(active, key=lambda s: (depth[s["id"]], s["start_us"]))
        key = "unattributed" if top is root else top["layer"]
        per_layer[key] = per_layer.get(key, 0) + (b - a)
    return per_layer
