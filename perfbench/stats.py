"""The benchmark's arithmetic: medians, quartile spread, span self time,
failure fraction and the normalisation behind the oracle digest.

Kept free of I/O so `test_stats.py` can check every rule on small inputs.
"""
import datetime
import decimal
import hashlib
import math
import statistics


def p50(values):
    """Median and sample count; (nan, 0) for no samples."""
    vals = [float(v) for v in values]
    if not vals:
        return math.nan, 0
    return statistics.median(vals), len(vals)


def iqr_share(values):
    """Distance between the first and third quartile as a share of the
    median, the way `statistics.quantiles(values, n=4)` places them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


def failed_frac(attempted, failed):
    """Failed ops over attempted ops; an empty run counts as all failed."""
    return failed / attempted if attempted else 1.0


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    covered by its direct children (overlapping children count once).

    `spans` is a list of dicts with `id`, `parent`, `start_s`, `end_s`.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_s"], s["end_s"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_s"]):
            a, b = max(c["start_s"], lo), min(c["end_s"], hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def norm_value(v):
    """One value in the oracle compare's canonical form: decimals and floats
    rounded to 9 decimals (integral ones as ints, so -0.0 is 0), zoned timestamps as naive
    UTC, containers normalised element-wise, mappings by sorted key."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return repr(v)
        r = round(v, 9)
        # an integral float equals the engine's integer spelling of it
        return int(r) if r.is_integer() and abs(r) < 2 ** 53 else r
    if isinstance(v, (list, tuple)):
        if v and all(isinstance(x, tuple) and len(x) == 2 for x in v):
            return tuple(sorted((norm_value(k), norm_value(x)) for k, x in v))
        return tuple(norm_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm_value(x)) for k, x in v.items()))
    return v


def norm_rows(columns, rows):
    """Rows (as dicts) in canonical form: columns in name order, sorted."""
    cols = sorted(columns)
    return sorted((tuple(norm_value(r[c]) for c in cols) for r in rows), key=repr)


def digest(columns, rows):
    """SHA-256 over the canonical rows; equal for equal row multisets."""
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for r in norm_rows(columns, rows):
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()
