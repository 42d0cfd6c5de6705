"""Answer checks: engine results against the oracle, or against the
properties a near-real-time index must keep.

Every function returns None when the answer passes and a one-line reason
when it does not.  Results are lists of (doc_id, score) in returned order.
"""

from __future__ import annotations

import numpy as np

from oracle import REL_TOL


def error_text(ex: BaseException) -> str:
    """One line naming an operation's exception, also when its message is empty."""
    first = (str(ex).splitlines() or [""])[0]
    return f"{type(ex).__name__}: {first[:200]}"


def close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b))


def _order_error(actual) -> str | None:
    """Returned order must be (score desc, doc_id asc); scores within
    REL_TOL count as tied, so either order of a near-tie passes."""
    for i in range(len(actual) - 1):
        (d1, s1), (d2, s2) = actual[i], actual[i + 1]
        if s1 < s2 and not close(s1, s2):
            return f"rank {i}: score {s1} below next {s2}"
        if s1 == s2 and d1 > d2:
            return f"rank {i}: equal scores but doc {d1} before {d2}"
    return None


def check_ranked(actual, expected: dict, k: int) -> str | None:
    """Compare a top-k answer with the oracle's ranked list.

    `expected` is oracle.ranked() output: the total hit count and the top k
    extended by every doc tied with the k-th score.  A returned doc must be
    in that list with its own score, and the score at each rank must equal
    the oracle's score at that rank: a dropped, foreign or misordered doc
    moves some rank's score, a near-tie swap does not."""
    want = min(k, expected["hits"])
    if len(actual) != want:
        return f"returned {len(actual)} docs, expected {want}"
    top = expected["top"]
    score_of = {d: s for d, s in top}
    seen: set = set()
    for i, (d, s) in enumerate(actual):
        if d in seen:
            return f"doc {d} returned twice"
        seen.add(d)
        if d not in score_of:
            return f"rank {i}: doc {d} is not among the expected top {k}"
        if not close(s, score_of[d]):
            return f"rank {i}: doc {d} scored {s}, expected {score_of[d]}"
        if not close(s, top[i][1]):
            return f"rank {i}: score {s}, expected {top[i][1]} at this rank"
    return _order_error(actual)


def check_properties(actual, k: int, matching, deleted, live_hits: int) -> str | None:
    """Properties a top-k answer has whatever the collection statistics:
    the right number of docs, no deleted doc, every doc matches the query,
    and (score desc, doc_id asc) order.  `matching(doc_id)` tells whether a
    doc matches; `deleted` is the set of deleted doc ids."""
    want = min(k, live_hits)
    if len(actual) != want:
        return f"returned {len(actual)} docs, expected {want}"
    seen: set = set()
    for i, (d, _s) in enumerate(actual):
        if d in seen:
            return f"doc {d} returned twice"
        seen.add(d)
        if d in deleted:
            return f"rank {i}: doc {d} is deleted"
        if not matching(d):
            return f"rank {i}: doc {d} does not match the query"
    return _order_error(actual)


def check_count(actual: int, expected: int) -> str | None:
    if actual != expected:
        return f"count {actual}, expected {expected}"
    return None


class Membership:
    """Per-doc membership bitmaps from the oracle, over its sorted doc ids."""

    def __init__(self, doc_ids: np.ndarray, bits: dict[str, np.ndarray]):
        self.doc_ids = doc_ids
        self.bits = bits

    def index(self, doc: int) -> int:
        i = int(np.searchsorted(self.doc_ids, doc))
        if i >= self.doc_ids.size or self.doc_ids[i] != doc:
            return -1
        return i

    def has(self, key: str, doc: int) -> bool:
        i = self.index(doc)
        return i >= 0 and bool(self.bits[key][i])

    def live_count(self, keys: list[str], conj: bool, live: np.ndarray) -> int:
        rows = [self.bits[key] for key in keys]
        m = np.logical_and.reduce(rows) if conj else np.logical_or.reduce(rows)
        return int(np.count_nonzero(m & live))
