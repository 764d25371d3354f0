"""Pure statistics of the benchmark: percentiles and their sample-count rule,
chunk-to-micro-batch latency matching, span self time, and the per-layer
metrics of a traced run. Everything here is unit-tested in test_perfbench.py.
"""
import math
import statistics


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a q share
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q * len(s)))
    return s[rank - 1]


def beyond(n, q):
    """How many of n samples lie strictly above the nearest-rank q percentile."""
    return n - max(1, math.ceil(q * n))


def supported(n, q, tail=10):
    """A percentile is reported only with at least `tail` samples beyond it:
    p50 needs 20 samples, p90 needs 100, p95 needs 200."""
    return beyond(n, q) >= tail


def spread(values):
    """Distance between first and third quartile as a share of the median,
    as statistics.quantiles(values, n=4) gives the quartiles."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def match_chunks(chunks, batches):
    """Commit time of the micro-batch holding each chunk.

    A chunk added at offset o is committed by the first batch (in batch id
    order) whose end offset is at least o. A batch commits at its start plus
    its triggerExecution time. Returns one commit time (epoch ms) per chunk,
    None for a chunk no batch committed.
    """
    done = sorted((b for b in batches if b.get("end_offset") is not None),
                  key=lambda b: b["batch_id"])
    out = []
    i = 0
    for c in sorted(chunks, key=lambda c: c["offset"]):
        while i < len(done) and done[i]["end_offset"] < c["offset"]:
            i += 1
        if i == len(done):
            out.append(None)
        else:
            b = done[i]
            out.append(b["start_ms"] + b["duration_ms"].get("triggerExecution", 0))
    return out


def event_latencies(chunks, batches):
    """Per chunk: commit time minus the chunk's due time (its generator
    stamp), in ms. Uncommitted chunks are left out and counted apart."""
    order = sorted(chunks, key=lambda c: c["offset"])
    commits = match_chunks(order, batches)
    lat = [t - c["due_ms"] for c, t in zip(order, commits) if t is not None]
    return lat, sum(t is None for t in commits)


def backlog(chunks, batches):
    """Chunks generated but not yet committed: the maximum over the chunk
    due times, and the number left when the last chunk was added."""
    order = sorted(chunks, key=lambda c: c["offset"])
    commits = match_chunks(order, batches)
    if not order:
        return 0, 0
    def pending(t):
        return sum(1 for c, ct in zip(order, commits)
                   if c["add_end_ms"] <= t and (ct is None or ct > t))
    return max(pending(c["add_end_ms"]) for c in order), pending(order[-1]["add_end_ms"])


def self_times(spans):
    """Self time per span: its duration minus the union of its children's
    intervals clipped to it. Returns {span id: ms}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in kids.get(s["id"], ()))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


def layer_self_ms(spans):
    """Self time summed per layer; a span's layer is its name up to the dot."""
    st = self_times(spans)
    out = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + st[s["id"]]
    return out
