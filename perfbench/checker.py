"""Output checker: every op's answer against an independent oracle.

Top-k answers (``exec.search``, ``search_interactive``, ``search_many``,
``versioning.search_view`` and searches over a compacted index) must be
rank-identical to ``oracle.BruteForceIndex``: the same doc_id sequence,
scores equal to ``rtol=1e-12`` and equal after a float32 cast — the
criteria of the repo's end-to-end tests. ``search_query_string`` answers
are compared with the DuckDB ``oracle_sql.tree_sql`` answer at
``oracle_sql.ROUND_DIGITS``.

Each check returns None when the answer is right, else a one-line reason.
"""

from __future__ import annotations

import numpy as np


def rows_of(hits) -> list[tuple[int, float]]:
    """Spark rows or a pandas frame with doc_id/score -> [(doc_id, score)]."""
    if hasattr(hits, "columns") and hasattr(hits, "iloc"):
        return [(int(d), float(s)) for d, s in zip(hits["doc_id"], hits["score"])]
    return [(int(r["doc_id"]), float(r["score"])) for r in hits]


def check_topk(got: list[tuple[int, float]],
               expect: list[tuple[int, float]]) -> str | None:
    gi, ei = [d for d, _ in got], [d for d, _ in expect]
    if gi != ei:
        return f"doc_id sequence differs: got {gi[:12]} expected {ei[:12]}"
    if not got:
        return None
    gs = np.array([s for _, s in got], dtype=np.float64)
    es = np.array([s for _, s in expect], dtype=np.float64)
    if not np.allclose(gs, es, rtol=1e-12, atol=0.0):
        i = int(np.argmax(np.abs(gs - es)))
        return f"score differs at rank {i}: got {gs[i]!r} expected {es[i]!r}"
    if not np.array_equal(gs.astype(np.float32), es.astype(np.float32)):
        return "float32 scores differ"
    return None


def check_rounded(got: list[tuple[int, float]],
                  expect: list[tuple[int, float]], digits: int) -> str | None:
    g = [(d, round(s, digits)) for d, s in got]
    e = [(int(d), round(float(s), digits)) for d, s in expect]
    if g != e:
        return f"rows differ: got {g[:8]} expected {e[:8]}"
    return None


def view_oracle(oracle, terms: list[str], k: int, mode: str,
                deletes) -> list[tuple[int, float]]:
    """search_view's contract over a brute-force index of the PHYSICAL
    docs: over-fetch k + |deletes|, drop the deleted ids, keep k."""
    ranked = oracle.search(terms, k=k + len(deletes), mode=mode)
    return [(d, s) for d, s in ranked if d not in deletes][:k]
