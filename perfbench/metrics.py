"""Pure parts of the benchmark: statistics, the seeded operation order,
span self-time and the per-operation layer partition. `run.py` applies
them to the JVM's result file; `tests/` checks them."""
import random
import statistics

LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-len(s) * p // 100) - 1))
    return s[int(k)]


def tail_percentile(n, min_beyond=10):
    """The highest percentile of LADDER with at least `min_beyond`
    samples strictly beyond it in a sample of `n`; 50 when none has
    (the median is then the tail)."""
    for p in LADDER:
        if n - -(-n * p // 100) >= min_beyond:
            return p
    return 50.0


def tail(xs, min_beyond=10):
    """(value, percentile) of the tail rule over sample `xs`; when the
    rule falls back to the 50th percentile the value is the median."""
    p = tail_percentile(len(xs), min_beyond)
    return (median(xs) if p == 50.0 else percentile(xs, p)), p


def op_order(seed, names, length):
    """Seeded closed-loop order: whole shuffled rounds of `names`, so
    every entry runs equally often and the sequence depends only on
    the seed."""
    rng = random.Random(f"perfbench-order-{seed}")
    out = []
    while len(out) < length:
        r = list(names)
        rng.shuffle(r)
        out.extend(r)
    return out[:length]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], clipped to
    [lo, hi] when given."""
    iv = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            iv.append((a, b))
    iv.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    a, b = span
    return (b - a) - union_length(children, a, b)


def layer_partition(op, spans):
    """Split an operation's wall interval `op` = (start, end) across
    layers. `spans` is [(layer, start, end, rank)]; each instant goes to
    the covering span of highest rank, and instants no span covers go
    to "residue". Returns {layer: seconds}; the values sum to the wall
    time exactly (up to float rounding)."""
    a0, b0 = op
    cuts = {a0, b0}
    clipped = []
    for layer, a, b, rank in spans:
        a, b = max(a, a0), min(b, b0)
        if b > a:
            clipped.append((layer, a, b, rank))
            cuts.update((a, b))
    pts = sorted(cuts)
    out = {}
    for x, y in zip(pts, pts[1:]):
        mid = (x + y) / 2
        best = None
        for layer, a, b, rank in clipped:
            if a <= mid < b and (best is None or rank > best[1]):
                best = (layer, rank)
        key = best[0] if best else "residue"
        out[key] = out.get(key, 0.0) + (y - x)
    return out


def failed_frac(attempted, failed):
    return failed / attempted if attempted else 1.0


def count_failures(ops, oracle_bad):
    """Failures among measured operations: errors, hash mismatches
    against the pinned result, and every run of an entry whose
    set-up result disagreed with its oracle."""
    return sum(1 for o in ops if not o["ok"] or o["name"] in oracle_bad)
