"""Output checkers.  Each returns a list of mismatch descriptions; an
empty list means the output is correct."""

from __future__ import annotations


def compare_summary(got: tuple, want: tuple) -> list[str]:
    """``(count, sum, max id)`` of a table against its model."""
    if tuple(got) == tuple(want):
        return []
    return [f"table (count, sum v, max id) = {tuple(got)}, "
            f"model says {tuple(want)}"]


def compare_mapping(what: str, got: dict, want: dict) -> list[str]:
    """A keyed result, such as per-tag counts or the curated-store
    report ``source -> (docs, chars)``, against its model."""
    if got == want:
        return []
    return [f"{what} {sorted(got.items())}, model says {sorted(want.items())}"]


def compare_datacard(got, want, tol: float = 1e-4) -> list[str]:
    """q209 per-split datacard rows ``(split, n_keys, total, hhi,
    top_share)``: counts exact, shares within ``tol`` (both sides
    round them to four places)."""
    g = {r[0]: tuple(r[1:]) for r in got}
    w = {r[0]: tuple(r[1:]) for r in want}
    if g.keys() != w.keys():
        return [f"splits {sorted(g)}, expected {sorted(w)}"]
    out = []
    for split, (gn, gt, gh, gs) in sorted(g.items()):
        wn, wt, wh, ws = w[split]
        if (gn, gt) != (wn, wt) or abs(gh - wh) > tol or abs(gs - ws) > tol:
            out.append(f"{split}: {(gn, gt, gh, gs)} != {(wn, wt, wh, ws)}")
    return out
