"""Seeded, vectorized corpus and query-stream generator for the benchmark.

The program under test only ever sees the ``documents.parquet`` written
here, in the driver schema ``(doc_id, text, lang, source, n_chars)``, so
``build.corpus_from_documents``, ``store.segment_index`` and the DuckDB
oracle all read it unchanged.

Shape: source-code-like text. A Zipf head (alpha 1.1) of 3,000
identifier stems is rendered as camelCase / snake_case identifiers (the
analyzer splits them back into stems), mixed with language keywords and
small numbers; 20-120 tokens per doc.

Everything is numpy over whole arrays; the only per-document Python is
one ``str.join``. The parquet is cached under the benchmark cache dir,
keyed by (seed, n_docs, generator version).
"""

from __future__ import annotations

import os

import numpy as np

_SYLLABLES = [
    "get", "set", "read", "write", "parse", "load", "store", "merge", "split",
    "hash", "index", "query", "scan", "sort", "flush", "batch", "chunk",
    "node", "tree", "list", "map", "key", "val", "buf", "str", "num", "ctx",
    "req", "res", "conn", "pool", "lock", "sync", "task", "job", "file",
    "path", "dir", "meta", "stat", "count", "total", "part", "seg", "user",
    "name", "http", "row", "col", "page", "block", "term", "doc", "span",
]
_KEYWORDS = ["def", "return", "class", "import", "from", "while", "break",
             "continue", "try", "except", "raise", "yield", "lambda", "self"]
_SEPS = np.array([" ", " ", " ", "(", ", ", " = ", ".", "\n    "], dtype=object)
_LANGS = ["python", "java", "go", "rust", "markdown"]


#: bump when the generator's output changes, so cached corpora regenerate
GENERATOR_VERSION = 1
N_STEMS = 3000
ZIPF_ALPHA = 1.1
MIN_TOKENS, MAX_TOKENS = 20, 120


def _stems(rng, n: int) -> np.ndarray:
    """n distinct lowercase stems of 1-3 syllables (none a stopword)."""
    syl = np.array(_SYLLABLES, dtype=object)
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        m = 4 * n
        parts = rng.integers(0, len(syl), size=(m, 3))
        width = rng.integers(1, 4, size=m)
        for row, w in zip(parts, width):
            s = "".join(syl[row[:w]])
            if s not in seen:
                seen.add(s)
                out.append(s)
                if len(out) == n:
                    break
    return np.array(out, dtype=object)


def generate(seed: int, n_docs: int):
    """-> pandas DataFrame in the driver documents schema."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    stems = _stems(rng, N_STEMS)
    cdf = np.cumsum(1.0 / np.arange(1, N_STEMS + 1) ** ZIPF_ALPHA)
    cdf /= cdf[-1]

    # identifier table: 1-3 Zipf-drawn stems, camelCase or snake_case
    n_ident = 4 * N_STEMS
    picks = stems[np.searchsorted(cdf, rng.random((n_ident, 3)))]
    width = rng.integers(1, 4, size=n_ident)
    snake = rng.random(n_ident) < 0.5
    idents = np.empty(n_ident, dtype=object)
    for i in range(n_ident):
        parts = picks[i, :width[i]]
        idents[i] = ("_".join(parts) if snake[i]
                     else parts[0] + "".join(s.capitalize() for s in parts[1:]))
    numbers = np.array([str(i) for i in range(100)], dtype=object)
    table = np.concatenate([np.array(_KEYWORDS, dtype=object), idents, numbers])
    n_kw, n_num = len(_KEYWORDS), len(numbers)

    lens = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n_docs)
    total = int(lens.sum())
    kind = rng.random(total)
    tok = np.empty(total, dtype=object)
    is_kw = kind < 0.12
    is_num = (kind >= 0.12) & (kind < 0.17)
    is_ident = kind >= 0.17
    tok[is_kw] = table[rng.integers(0, n_kw, size=int(is_kw.sum()))]
    tok[is_num] = table[n_kw + n_ident + rng.integers(0, n_num, size=int(is_num.sum()))]
    tok[is_ident] = table[n_kw + rng.integers(0, n_ident, size=int(is_ident.sum()))]
    seps = _SEPS[rng.integers(0, len(_SEPS), size=total)]
    pieces = np.empty(2 * total, dtype=object)
    pieces[0::2], pieces[1::2] = tok, seps

    bounds = np.concatenate(([0], np.cumsum(lens))) * 2
    texts = ["".join(pieces[bounds[i]:bounds[i + 1] - 1]) for i in range(n_docs)]
    doc_ids = np.arange(n_docs, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": doc_ids,
        "text": texts,
        "lang": np.array(_LANGS, dtype=object)[doc_ids % len(_LANGS)],
        "source": [f"org{i % 7}/proj{i % 23}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def documents_dir(cache_root: str, seed: int, n_docs: int) -> str:
    """Directory holding documents.parquet for (seed, n_docs); generated
    on first use and reused afterwards."""
    out = os.path.join(cache_root,
                       f"corpus_v{GENERATOR_VERSION}_s{seed}_n{n_docs}")
    path = os.path.join(out, "documents.parquet")
    if not os.path.exists(path):
        os.makedirs(out, exist_ok=True)
        tmp = path + ".tmp"
        generate(seed, n_docs).to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return out


def corpus_stats(postings: dict) -> dict:
    """n_docs-independent shape figures from an oracle postings map
    (term -> {doc: tf})."""
    dfs = np.array([len(v) for v in postings.values()], dtype=np.int64)
    return {"distinct_terms": int(len(dfs)),
            "top_df": int(dfs.max()) if len(dfs) else 0,
            "median_df": float(np.median(dfs)) if len(dfs) else 0.0}


# ---------------------------------------------------------------------------
# query streams (FIXTURES §2 kinds), drawn from the oracle's own postings
# ---------------------------------------------------------------------------

QUERY_KINDS = ("rare", "mid", "head", "and2", "and4", "or", "k1", "k100",
          "absent", "stop", "camel")


def query_stream(seed: int, postings: dict, texts: list[str],
                 n: int = 242) -> list[tuple[str, int, str]]:
    """Seeded (text, k, mode) list cycling through every FIXTURES §2 kind:
    rare / mid / Zipf-head single terms, AND-2 and AND-4, OR-3..5, k=1 and
    k=100, an absent term, stopword-only text and a camelCase identifier.

    Terms are picked by document-frequency band, not uniformly, so one
    kind costs about the same under every seed: head terms cycle through
    the ten highest-df terms, mid terms sit near df = n_docs/50, and the
    AND queries join a mid term with the highest-df terms of a doc that
    holds it (never empty)."""
    from pysearch import analysis

    rng = np.random.default_rng(seed + 7)
    terms = sorted(postings, key=lambda t: (-len(postings[t]), t))
    df = {t: len(postings[t]) for t in terms}
    head = terms[:10]
    target = max(10, len(texts) // 50)
    mid = [t for t in terms if 0.8 * target <= df[t] <= 1.25 * target] or [terms[len(terms) // 2]]
    rare = [t for t in terms if df[t] <= 3] or terms[-1:]
    alpha = [t for t in mid if t.isalpha()] or mid

    def pick(a):
        return a[int(rng.integers(0, len(a)))]

    def with_doc_heads(m, extra):
        """m plus the `extra` highest-df other terms of a doc holding m."""
        docs = list(postings[m])
        toks = set(analysis.analyze(texts[docs[int(rng.integers(0, len(docs)))]]))
        toks.discard(m)
        return [m] + sorted(toks, key=lambda t: (-df[t], t))[:extra]

    out = []
    for i in range(n):
        kind, r = QUERY_KINDS[i % len(QUERY_KINDS)], i // len(QUERY_KINDS)
        h = head[r % len(head)]
        if kind == "rare":
            out.append((pick(rare), 10, "or"))
        elif kind == "mid":
            out.append((pick(mid), 10, "or"))
        elif kind == "head":
            out.append((h, 10, "or"))
        elif kind == "and2":
            out.append((" ".join(with_doc_heads(pick(mid), 1)), 10, "and"))
        elif kind == "and4":
            out.append((" ".join(with_doc_heads(pick(mid), 3)), 10, "and"))
        elif kind == "or":
            pool = [h, pick(mid), pick(rare), pick(mid), pick(mid)]
            out.append((" ".join(pool[:3 + r % 3]), 20, "or"))
        elif kind == "k1":
            out.append((f"{h} {pick(mid)}", 1, "or"))
        elif kind == "k100":
            out.append((f"{h} {pick(mid)}", 100, "or"))
        elif kind == "absent":
            out.append(("zzq" + "".join(chr(97 + int(c)) for c in rng.integers(0, 26, 8)),
                        10, "or"))
        elif kind == "stop":
            out.append(("the of and", 10, "or"))
        else:
            out.append((pick(alpha) + pick(alpha).capitalize(), 10, "or"))
    return out


def query_strings(seed: int, postings: dict, texts: list[str],
                  n: int = 40) -> list[str]:
    """Seeded query_string texts ``"a b" +c -d``: a phrase of two adjacent
    analyzed tokens of one doc, a +must term of the same doc and a
    -must_not term. Like ``query_stream``, terms are chosen near
    df = n_docs/50 (the adjacent pair closest to it among a few sampled
    docs), so the op costs about the same under every seed."""
    from pysearch import analysis

    rng = np.random.default_rng(seed + 11)
    target = max(10, len(texts) // 50)
    df = {t: len(p) for t, p in postings.items()}
    mid = sorted(t for t in df if 0.8 * target <= df[t] <= 1.25 * target) or sorted(df)

    def dist(t):
        return abs(np.log(df[t] / target))

    out = []
    while len(out) < n:
        best = None
        for _ in range(8):
            toks = analysis.analyze(texts[int(rng.integers(0, len(texts)))])
            for a, b in zip(toks, toks[1:]):
                if a != b and (best is None or dist(a) + dist(b) < best[0]):
                    best = (dist(a) + dist(b), a, b, toks)
        if best is None:
            continue
        _, a, b, toks = best
        must = min((t for t in set(toks) if t not in (a, b)), key=lambda t: (dist(t), t),
                   default=a)
        not_ = mid[int(rng.integers(0, len(mid)))]
        out.append(f'"{a} {b}" +{must} -{not_}')
    return out
