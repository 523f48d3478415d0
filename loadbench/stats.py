"""Summary statistics and the span arithmetic of the trace."""

import math

# Percentiles considered when reporting the tail of a timing.
TAIL_PERCENTILES = (99.9, 99.0, 90.0)


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail_percentile(n):
    """The highest percentile with at least ten of ``n`` samples beyond
    it, or None when even the 90th has fewer."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def union_length(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clip(interval, window):
    a, b = max(interval[0], window[0]), min(interval[1], window[1])
    return (a, b) if b > a else None


def self_times(root, children):
    """Self time of a span and of each of its children.

    ``root`` and each child are ``(name, start, end)``. A child's self
    time is its duration; the root's is the part of its interval no
    child covers, which is the residual a layer split leaves unexplained.
    """
    window = (root[1], root[2])
    covered = union_length(
        [c for c in (clip((s, e), window) for _, s, e in children) if c])
    out = {name: e - s for name, s, e in children}
    out[root[0]] = (root[2] - root[1]) - covered
    return out


def check_law(root, children, tol):
    """The trace law: children lie inside the root, do not overlap, and
    the self times add up to the root's wall time. Returns a list of
    violations, empty when the law holds."""
    bad = []
    prev_end = root[1] - tol
    for name, s, e in sorted(children, key=lambda c: c[1]):
        if e < s - tol:
            bad.append(f"{name} ends before it starts")
        if s < root[1] - tol or e > root[2] + tol:
            bad.append(f"{name} lies outside {root[0]}")
        if s < prev_end - tol:
            bad.append(f"{name} overlaps its predecessor")
        prev_end = max(prev_end, e)
    st = self_times(root, children)
    wall = root[2] - root[1]
    if abs(sum(st.values()) - wall) > tol:
        bad.append(f"self times sum to {sum(st.values())}, wall is {wall}")
    if st[root[0]] < -tol:
        bad.append(f"negative residual {st[root[0]]}")
    return bad
