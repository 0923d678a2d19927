"""The benchmark's math, kept free of I/O so it can be tested directly.

Everything here works on plain numbers and dicts decoded from the JVM's
record log (see `src/perfbench/*.scala`).
"""
import math
import statistics

MIN_BEYOND = 10


def percentile(values, q, weights=None, min_beyond=MIN_BEYOND):
    """Nearest-rank q-quantile (0 < q < 1) of `values`, optionally weighted
    by integer `weights`. Returns None unless at least `min_beyond` samples
    (total weight) lie strictly beyond the reported rank, so a tail
    percentile is never read off a handful of points."""
    if weights is None:
        weights = [1] * len(values)
    pairs = sorted((v, w) for v, w in zip(values, weights) if w > 0)
    total = sum(w for _, w in pairs)
    if total == 0:
        return None
    rank = max(1, math.ceil(q * total))
    if total - rank < min_beyond:
        return None
    seen = 0
    for v, w in pairs:
        seen += w
        if seen >= rank:
            return v
    return pairs[-1][0]


def covers(batch_offsets, tick_offsets):
    """A batch consumed a tick when every source's end offset reached it."""
    return all(b >= t for b, t in zip(batch_offsets, tick_offsets))


def attribute(ticks, batches):
    """Map each tick to the first batch (in batch order) whose end offsets
    cover the tick's offsets. `ticks` and `batches` are dicts with an
    `offsets` list; returns one batch (or None) per tick, in tick order."""
    ordered = sorted(batches, key=lambda b: b["batch_id"])
    out, i = [], 0
    for t in ticks:
        while i < len(ordered) and not covers(ordered[i]["offsets"], t["offsets"]):
            i += 1
        out.append(ordered[i] if i < len(ordered) else None)
    return out


def union_length(intervals):
    """Total length covered by possibly-overlapping (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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


def self_times(spans):
    """Span id -> self time: its duration minus the time its children cover
    (children clipped to the parent's window, overlaps counted once)."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        if s.get("parent") in by_id:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = union_length(
            (max(lo, c["start_ms"]), min(hi, c["end_ms"])) for c in kids.get(s["id"], []))
        out[s["id"]] = max(0.0, (hi - lo) - covered)
    return out


def lag_at(t, ticks, consumed_at):
    """Consumer lag at time t: due time of the newest tick due by t minus
    the due time of the newest tick consumed by t (the schedule's first due
    time when nothing has been consumed yet). `consumed_at[i]` is when
    tick i was read by a trigger, or None."""
    due = [tk["due_ms"] for tk in ticks if tk["due_ms"] <= t]
    if not due:
        return 0.0
    got = [tk["due_ms"] for tk, c in zip(ticks, consumed_at) if c is not None and c <= t]
    return max(due) - (max(got) if got else ticks[0]["due_ms"])


def backlog_at(t, ticks, consumed_at):
    """Rows due by t and not yet read by a trigger."""
    return sum(tk["rows"] for tk, c in zip(ticks, consumed_at)
               if tk["due_ms"] <= t and (c is None or c > t))


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) as Python's quartiles give them."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")
