"""Pure functions behind the benchmark's numbers (tested by tests/)."""
import random
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """The q-th percentile by linear interpolation between the two
    nearest ranks (numpy's default), so it moves smoothly when two
    samples swap places."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def op_medians(samples):
    """{op: [warm wall times]} -> each op's median, the figures the op
    percentiles are taken over: one figure per op, so a percentile
    follows the ops' times instead of jumping from one op to another
    when one op's samples spread."""
    return [median(v) for v in samples.values()]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by [start, end] intervals, optionally clipped
    to [lo, hi]. Overlaps count once."""
    spans = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            spans.append((a, b))
    spans.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(start, end, job_intervals):
    """Wall time of [start, end] during which no Spark job ran."""
    return (end - start) - union_length(job_intervals, start, end)


def self_times(spans):
    """Span id -> duration minus the part of it that its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def failed_ops(ops, attempted, checks):
    """Names of attempted ops that threw in any pass, never ran, or
    failed their output check. `ops` are run records
    ({name, ok}); `checks` map op name -> bool."""
    ran = {o["name"] for o in ops}
    threw = {o["name"] for o in ops if not o["ok"]}
    bad = {n for n, ok in checks.items() if not ok}
    return sorted(n for n in attempted if n in threw or n in bad or n not in ran)


def pass_orders(modules, seed, passes, salt=""):
    """Seeded op order for each pass: modules in a shuffled order, each
    module's ops shuffled within it, so a module's ops stay contiguous.
    `modules` is [(module, [op, ...]), ...]."""
    rng = random.Random(f"{salt}:{seed}")
    out = []
    for _ in range(passes):
        mods = list(modules)
        rng.shuffle(mods)
        order = []
        for _, ops in mods:
            ops = list(ops)
            rng.shuffle(ops)
            order.extend(ops)
        out.append(order)
    return out


def skew(read_per_task):
    """max / median task shuffle-read of one stage, or None when the
    stage has under two tasks or a zero median."""
    if len(read_per_task) < 2:
        return None
    m = statistics.median(read_per_task)
    return max(read_per_task) / m if m > 0 else None
