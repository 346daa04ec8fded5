"""Pure helpers of the benchmark: percentiles, the backlog test, the oracle
comparison and the seeded query order. No Spark, no I/O."""
import math
import random

import numpy as np

TAIL_CANDIDATES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def tail_percentile(samples, min_beyond=10, candidates=TAIL_CANDIDATES):
    """The highest candidate percentile with at least ``min_beyond`` samples
    above it, as ``(percentile, value, n)``. The value is the nearest-rank
    order statistic. With fewer than ``2 * min_beyond`` samples no candidate
    qualifies and the median is returned, so ``percentile`` reads 50."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    best = candidates[0]
    for p in candidates:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            best = p
    rank = max(1, math.ceil(best / 100.0 * n))
    return best, xs[rank - 1], n


def backlog_grows(times_s, backlog, rate, tolerance=0.1):
    """True when the backlog rises, by a least-squares fit over the rung,
    faster than ``tolerance`` of the offered ``rate``: the query then
    processes less than (1 - tolerance) of what arrives. Fewer than three
    samples cannot show growth."""
    t = np.asarray(times_s, dtype=float)
    b = np.asarray(backlog, dtype=float)
    if len(t) < 3 or np.ptp(t) <= 0:
        return False
    slope = np.polyfit(t, b, 1)[0]
    return bool(slope > tolerance * rate)


def query_orders(queries, seed, passes):
    """One order of ``queries`` per pass, each a seeded permutation. Pass p
    uses its own generator so adding passes never changes earlier ones."""
    out = []
    for p in range(passes):
        order = list(queries)
        random.Random(f"{seed}:{p}").shuffle(order)
        out.append(order)
    return out


def oracle_diff(got, want):
    """Compare a Spark result with its DuckDB oracle (both pandas frames)
    the way ``dev/check_oracle.py`` does: columns sorted by name, rows in
    order, floats bit-exact, an int column against a float column is a
    type mismatch. Returns None when equal, else a one-line diff."""
    got = got[sorted(got.columns)].reset_index(drop=True)
    want = want[sorted(want.columns)].reset_index(drop=True)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    diffs = []
    for c in got.columns:
        a, b = got[c], want[c]
        kinds = {a.dtype.kind, b.dtype.kind}
        if kinds in ({"i", "f"}, {"u", "f"}):
            diffs.append(f"{c}: dtype spark {a.dtype} vs oracle {b.dtype}")
            continue
        try:
            if a.dtype.kind in "fc" or b.dtype.kind in "fc":
                ok = (a.astype(float) == b.astype(float)) | (a.isna() & b.isna())
            else:
                ok = (a.astype(str) == b.astype(str)) | (a.isna() & b.isna())
        except (TypeError, ValueError) as e:
            diffs.append(f"{c}: {e}")
            continue
        if not ok.all():
            diffs.append(f"{c}: {int((~ok).sum())} rows differ, e.g. "
                         f"{a[~ok].head(2).tolist()} vs {b[~ok].head(2).tolist()}")
    return "; ".join(diffs) if diffs else None


def schedule(segments):
    """Cumulative (start second, first event index) of each rate segment,
    plus the end of the last one."""
    bounds = [(0.0, 0)]
    for rate, secs in segments:
        t, n = bounds[-1]
        bounds.append((t + secs, n + int(round(rate * secs))))
    return bounds


def scheduled_s(index, segments):
    """When event ``index`` (array) is due, in seconds from generator start:
    within a segment starting at ``t0`` with event ``n0``, event ``i`` is due
    once ``(t - t0) * rate`` reaches ``i - n0 + 1``."""
    idx = np.asarray(index, dtype=float)
    bounds = schedule(segments)
    out = np.full(idx.shape, np.nan)
    for k, (rate, _) in enumerate(segments):
        (t0, n0), (_, n1) = bounds[k], bounds[k + 1]
        sel = (idx >= n0) & (idx < n1)
        out[sel] = t0 + (idx[sel] - n0 + 1) / rate
    return out
