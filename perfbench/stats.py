"""Pure arithmetic of the benchmark: percentiles, span self time, layer
attribution and the result fingerprint. No I/O; tested by test_perfbench.py.
"""
import datetime
import decimal
import math
import zlib


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail(xs, above=10):
    """The highest sample that still has at least `above` samples above it.

    Returns (value, percentile, n). The percentile is the share of samples
    at or below the value. With `above` or fewer samples there is no such
    sample; the maximum is returned and flagged by percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= above:
        return s[-1], 100.0, n
    i = n - above - 1
    return s[i], 100.0 * (i + 1) / n, n


def kind_time(ops, kind):
    """Time of one op kind: per op name of that kind, the median of its
    samples, summed over the names. `ops` are dicts with kind, name, s."""
    samples = {}
    for o in ops:
        if o["kind"] == kind:
            samples.setdefault(o["name"], []).append(o["s"])
    return sum(median(xs) for xs in samples.values())


def union_length(intervals, lo=None, hi=None):
    """Total length covered by [start, end) intervals, optionally clipped."""
    iv = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            iv.append((a, b))
    iv.sort()
    total, cur_a, cur_b = 0, None, None
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


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    its child spans cover. `spans` are dicts with id, parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def layer_of(name):
    return name.split(".", 1)[0]


def innermost(spans, t):
    """The deepest span whose [start, end) holds instant t, or None.
    Among nested spans the deepest starts last."""
    best = None
    for s in spans:
        if s["start"] <= t < s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


# ------------------------------------------------------------ fingerprint

def _crc(s):
    return zlib.crc32(s.encode("utf-8"))


def _number(v):
    """Engine-neutral number of a value, or None if it is not numeric."""
    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return float((d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return float((v - datetime.date(1970, 1, 1)).days)
    return None


def fingerprint(columns, rows):
    """The summary Harness.fingerprintAggs computes inside the engine, from
    plain rows (tuples in `columns` order): row count, and per lower-cased
    column its nulls and a type-wise summary (see the Scala side)."""
    fp = {"rows": len(rows)}
    for i, name in enumerate(columns):
        n = name.lower()
        vals = [r[i] for r in rows]
        nn = [v for v in vals if v is not None]
        fp[n + "|nulls"] = len(vals) - len(nn)
        if not nn:
            continue
        first = nn[0]
        if isinstance(first, bool):
            fp[n + "|true"] = sum(1 for v in nn if v)
        elif isinstance(first, str):
            fp[n + "|crc"] = sum(_crc(v) for v in nn)
            fp[n + "|chars"] = sum(len(v.encode("utf-8")) for v in nn)
        elif isinstance(first, (list, tuple)):
            fp[n + "|items"] = sum(len(v) for v in nn)
            elems = [_number(x) for v in nn for x in v if x is not None]
            if elems and all(e is not None for e in elems):
                fp[n + "|sum"] = sum(elems)
                fp[n + "|abs"] = sum(abs(e) for e in elems)
        elif _number(first) is not None:
            xs = [_number(v) for v in nn]
            fp[n + "|sum"] = sum(xs)
            fp[n + "|abs"] = sum(abs(x) for x in xs)
    return fp


def same_fingerprint(got, want, rel=1e-6):
    """Exact on counts and checksums; float sums within a relative
    tolerance of their absolute-value sum (float aggregation order differs
    between engines and plans). A missing key reads as null."""
    if set(k for k, v in got.items() if v is not None) != \
            set(k for k, v in want.items() if v is not None):
        return False
    for k, w in want.items():
        g = got.get(k)
        if w is None or g is None:
            continue
        if k.endswith("|sum") or k.endswith("|abs"):
            if math.isnan(w) or math.isnan(g):
                if not (math.isnan(w) and math.isnan(g)):
                    return False
                continue
            scale = max(abs(want.get(k[:-4] + "|abs") or 0.0), abs(w), 1e-9)
            if abs(g - w) > rel * scale:
                return False
        elif g != w:
            return False
    return True
