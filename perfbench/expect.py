"""Expected answers and response checks for the lake endpoints.

All of it is computed from the rows the generator wrote, never from the
program under test.
"""
import bisect
import math

from datagen import DELAY_COLUMNS, TRAIN_COLUMNS

COL = {c: i for i, c in enumerate(TRAIN_COLUMNS)}
REL_TOL = 1e-9


def ols_expected(rows, x_col, y_col):
    """(slope, intercept, r2) from sequential sums, with the endpoint's
    semantics: a null x or y counts as 0.0 and n counts every row; r2 is
    None when y is constant. Raises ValueError where the endpoint
    answers 400 (no rows, zero variance in x)."""
    xi, yi = COL[x_col], COL[y_col]
    n = sx = sy = sxy = sxx = syy = 0.0
    for r in rows:
        x = float(r[xi]) if r[xi] is not None else 0.0
        y = float(r[yi]) if r[yi] is not None else 0.0
        n += 1
        sx += x
        sy += y
        sxy += x * y
        sxx += x * x
        syy += y * y
    if n == 0:
        raise ValueError("no rows")
    denom = n * sxx - sx * sx
    if denom == 0:
        raise ValueError("zero variance in x")
    slope = (n * sxy - sx * sy) / denom
    intercept = (sy - slope * sx) / n
    ss_tot = n * syy - sy * sy
    r2 = None if ss_tot == 0 else (n * sxy - sx * sy) ** 2 / (denom * ss_tot)
    return slope, intercept, r2


def rel_close(a, b, tol=REL_TOL):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=tol, abs_tol=tol)


def regression_matches(got, want):
    """`got` is the decoded response object, `want` an ols_expected triple."""
    try:
        return (rel_close(float(got["slope"]), want[0]) and
                rel_close(float(got["intercept"]), want[1]) and
                rel_close(None if got["r2"] is None else float(got["r2"]), want[2]))
    except (KeyError, TypeError, ValueError):
        return False


def sort_key(delays, desc):
    """Key that orders delay tuples with nulls first in both directions,
    ascending or descending on the values."""
    return tuple((0, 0) if v is None else (1, -v if desc else v) for v in delays)


def delay_tuples(rows):
    """Delay-column tuples of generator rows."""
    idx = [COL[c] for c in DELAY_COLUMNS]
    return [tuple(r[i] for i in idx) for r in rows]


def expected_delays(rows, desc, limit=None):
    """Delay tuples of the sorted table, first `limit` of them."""
    keyed = sorted(delay_tuples(rows), key=lambda t: sort_key(t, desc))
    return keyed if limit is None else keyed[:limit]


def is_sorted_nulls_first(tuples, desc):
    keys = [sort_key(t, desc) for t in tuples]
    return all(a <= b for a, b in zip(keys, keys[1:]))


def response_delays(objs):
    return [tuple(o.get(c) for c in DELAY_COLUMNS) for o in objs]


class VersionLog:
    """Publish history of churned datasets, for the stale-read check: a
    response must come from the version that was current when its request
    was sent, or from a newer one."""

    def __init__(self):
        self._times = {}     # id -> [publish time]
        self._versions = {}  # id -> [version]

    def publish(self, ds, version, t):
        ts = self._times.setdefault(ds, [])
        if ts and t < ts[-1]:
            raise ValueError("publishes must be logged in time order")
        ts.append(t)
        self._versions.setdefault(ds, []).append(version)

    def current(self, ds, t):
        """Version of `ds` current at time t (None before its first publish)."""
        ts = self._times.get(ds, [])
        i = bisect.bisect_right(ts, t)
        return self._versions[ds][i - 1] if i else None

    def check(self, ds, t_send, versions):
        """None when a response built from `versions` (the set of version
        numbers seen in its rows) is fresh, else the reason it is not."""
        if len(versions) != 1:
            return f"mixed versions {sorted(versions)}"
        v = next(iter(versions))
        floor = self.current(ds, t_send)
        if floor is not None and v < floor:
            return f"stale: version {v} served, {floor} was current at send"
        if v not in self._versions.get(ds, []):
            return f"unknown version {v}"
        return None
