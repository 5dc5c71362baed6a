"""Independent pandas computations the benchmark checks outputs against.

Written from the documented semantics of ``jobs.curate_job`` and
``functions.text`` / ``functions.dedup``, not by calling them: exact
Jaccard over every pair sharing a shingle instead of MinHash + LSH,
Python string operations instead of Spark expressions.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import pandas as pd

# functions.text.LANG_MARKERS (duplicated on purpose: the oracle must not
# share the engine's tables)
LANG_MARKERS = {
    "en": ["the", "and", "of", "a"],
    "fr": ["le", "la", "et", "les"],
    "de": ["der", "die", "und", "das"],
    "es": ["el", "los", "que", "y"],
    "zh": ["的", "是", "了", "在"],
}
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # java.util.regex \s


def _norm(text: str) -> str:
    return _JAVA_WS.sub(" ", text.lower()).strip(" ")


def _shingles(text: str, n: int = 3) -> frozenset[str]:
    toks = _norm(text).split(" ")
    if len(toks) < n:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


def _pred_lang(text: str) -> str:
    padded = " " + text.lower() + " "
    return max(
        (float(sum(padded.count(f" {w} ") for w in ws)), lang)
        for lang, ws in sorted(LANG_MARKERS.items())
    )[1]


def _n_tokens(text: str) -> int:
    t = text.strip(" ")
    return 0 if not t else len(_JAVA_WS.split(t))


def near_dup_pairs(docs: pd.DataFrame, threshold: float) -> list[tuple[int, int]]:
    """Every (smaller id, larger id) pair with word-3-gram Jaccard >=
    ``threshold``, via an inverted index over shingle prefixes: with the
    shingles of each doc in one global order (rarest first), two docs of
    Jaccard >= t share a shingle among the first ``|s| - ceil(t*|s|) + 1``
    of each (prefix filtering); ``floor`` for ``ceil`` indexes a prefix
    at least that long, so no pair is lost to rounding."""
    sh = dict(zip(docs["doc_id"].tolist(), (_shingles(t) for t in docs["text"])))
    freq = Counter(g for s in sh.values() for g in s)
    index: dict[str, list[int]] = defaultdict(list)
    for i, s in sh.items():
        ordered = sorted(s, key=lambda g: (freq[g], g))
        for g in ordered[: len(s) - math.floor(threshold * len(s)) + 1]:
            index[g].append(i)
    cand = {
        (a, b) if a < b else (b, a)
        for ids in index.values()
        for x, a in enumerate(ids)
        for b in ids[x + 1 :]
    }
    return sorted(
        (a, b)
        for a, b in cand
        if round(len(sh[a] & sh[b]) / len(sh[a] | sh[b]), 6) >= threshold
    )


def curate(
    docs: pd.DataFrame, langs: list[str], min_tokens: int, near_threshold: float = 0.5
) -> tuple[dict[str, int], set[int]]:
    """Funnel counts and kept ids of ``curate_job.run`` in ``pairwise``
    mode with a language allow-list and a minimum token count."""
    d = docs[["doc_id", "text"]].copy()
    d["norm"] = d["text"].map(_norm)
    keep_exact = d["doc_id"] == d.groupby("norm")["doc_id"].transform("min")
    losers = {b for _, b in near_dup_pairs(d[keep_exact], near_threshold)}
    keep_near = keep_exact & ~d["doc_id"].isin(losers)
    keep_lang = keep_near & d["text"].map(_pred_lang).isin(langs)
    keep_tokens = keep_lang & (d["text"].map(_n_tokens) >= min_tokens)
    funnel = {
        "n_input": len(d),
        "keep_exact": int(keep_exact.sum()),
        "keep_near": int(keep_near.sum()),
        "keep_embed": int(keep_near.sum()),
        "keep_lang": int(keep_lang.sum()),
        "keep_quality": int(keep_lang.sum()),
        "keep_tokens": int(keep_tokens.sum()),
        "n_kept": int(keep_tokens.sum()),
    }
    return funnel, set(d.loc[keep_tokens, "doc_id"].tolist())
