"""Pure parts of the benchmark: seeded choices, order statistics and span
arithmetic. Nothing here touches the file system or the clock."""
import math

MASK64 = (1 << 64) - 1


def splitmix64(x):
    """One step of the splitmix64 finalizer (Steele et al.)."""
    z = (x + 0x9E3779B97F4A7C15) & MASK64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK64
    return z ^ (z >> 31)


def permutation(names, seed, pass_index):
    """The query order of one pass: a Fisher-Yates shuffle driven by
    splitmix64 of (seed, pass), so it is the same on every Python."""
    out = list(names)
    state = splitmix64((seed & MASK64) ^ splitmix64(pass_index + 1))
    for i in range(len(out) - 1, 0, -1):
        state = splitmix64(state)
        j = state % (i + 1)
        out[i], out[j] = out[j], out[i]
    return out


def tail_percentile(samples, beyond=10):
    """The highest whole percentile p that still has at least `beyond`
    samples above its nearest-rank value. Returns (p, value), or None when
    there are too few samples for any percentile to qualify."""
    v = sorted(samples)
    n = len(v)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    if p < 1:
        return None
    rank = math.ceil(p * n / 100)  # nearest rank, 1-based
    return p, v[rank - 1]


def covered(interval, children):
    """Length of the part of `interval` that the union of `children`
    covers. Intervals are (start, end) pairs; children are clipped."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in children)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(interval, children):
    """A span's self time: its duration minus the part its children cover."""
    return (interval[1] - interval[0]) - covered(interval, children)


def owner(windows, t):
    """Index of the window (start, end), sorted by start, that contains time
    t; None if none does. Windows do not overlap: the client is closed-loop."""
    lo, hi = 0, len(windows) - 1
    while lo <= hi:
        mid = (lo + hi) // 2
        a, b = windows[mid]
        if t < a:
            hi = mid - 1
        elif t > b:
            lo = mid + 1
        else:
            return mid
    return None
