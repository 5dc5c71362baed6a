"""Seeded benchmark inputs, generated outside every timed region.

Transcripts come from the engine's own synthetic generator
(``synth.write_scale``); documents come from :func:`generate_documents`
below, which plants exact and near duplicates at stated shares. Both are
written as parquet and cached by (scale, seed) under the work directory,
so a second run with the same seed reuses them.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

# Shape of the engine's sf0.1 document fixture (5000 docs), measured:
# 10-100 whitespace tokens per doc (uniform; median 54), drawn uniformly
# from 30 words of which "the" and "a" are the only language markers (so
# marker-word language ID predicts en for ~90% of docs, zh for the rest);
# a ``lang`` label drawn independently of the text; 20 sources round
# robin; 0.16% exact duplicates; 5% near duplicates, each another doc
# with " dup" appended.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
MIN_TOKENS, MAX_TOKENS = 10, 100
LANG_SHARE = {"en": 0.41, "fr": 0.15, "de": 0.14, "es": 0.15, "zh": 0.15}
N_SOURCES = 20
EXACT_DUP_SHARE = 0.0016
NEAR_DUP_SHARE = 0.05
NEAR_DUP_TOKEN = "dup"


def _case_variant(rng: np.random.Generator, toks: list[str]) -> str:
    """Same fingerprint (lower-cased, whitespace-collapsed), other bytes;
    the fixture's exact duplicates are byte-identical, these also
    exercise the fingerprint's normalisation."""
    out = " ".join(toks)
    if rng.random() < 0.5:
        out = out.upper()
    return out.replace(" ", "  ", int(rng.integers(1, 4))) + ("\n" if rng.random() < 0.5 else "")


def generate_documents(n_docs: int, seed: int) -> pd.DataFrame:
    """``documents(doc_id, text, lang, source, n_chars)`` in the shape of
    the engine's document fixture (see the constants above), with
    planted duplicates:

    - ``EXACT_DUP_SHARE`` (at least one doc) are case/whitespace
      variants of another doc;
    - ``NEAR_DUP_SHARE`` are another doc plus ``NEAR_DUP_TOKEN``: word-3-
      gram Jaccard of at least 8/9, where the curate job's LSH geometry
      (16 bands of 2) misses a pair with odds below 1e-10;
    - doc ids are a seeded permutation, so the keeper of a duplicate
      pair (the smaller id) is sometimes the planted copy.
    """
    rng = np.random.default_rng([seed, 7919])
    vocab = np.array(VOCAB, dtype=object)
    n_exact = max(1, round(n_docs * EXACT_DUP_SHARE))
    n_near = round(n_docs * NEAR_DUP_SHARE)
    n_base = n_docs - n_exact - n_near
    n_tok = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n_base)
    base_toks = [list(vocab[rng.integers(0, len(vocab), size=int(k))]) for k in n_tok]
    texts = [" ".join(t) for t in base_toks]
    picks = rng.choice(n_base, size=n_exact + n_near, replace=False)
    texts += [_case_variant(rng, base_toks[i]) for i in picks[:n_exact]]
    texts += [texts[i] + " " + NEAR_DUP_TOKEN for i in picks[n_exact:]]
    langs = np.array(list(LANG_SHARE), dtype=object)
    doc_id = rng.permutation(n_docs).astype(np.int64)
    df = pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": pd.array(texts, dtype="string"),
            "lang": pd.array(rng.choice(langs, size=n_docs, p=list(LANG_SHARE.values())), dtype="string"),
            "source": pd.array([f"src{i % N_SOURCES}" for i in doc_id], dtype="string"),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return df.sort_values("doc_id", kind="mergesort").reset_index(drop=True)


def _cached(cache_dir: str, key: str, build) -> dict[str, str]:
    """Build ``key`` once under ``cache_dir``; a ``_manifest.json`` written
    last marks a complete entry, so an interrupted build is redone."""
    d = os.path.join(cache_dir, key)
    manifest = os.path.join(d, "_manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    paths = build(d)
    with open(manifest, "w") as f:
        json.dump(paths, f)
    return paths


def transcripts(cache_dir: str, scale: str, seed: int) -> dict[str, str]:
    from astrospectro_spark.synth import write_scale

    return _cached(cache_dir, f"transcripts-{scale}-{seed}", lambda d: write_scale(d, scale, seed))


def documents(cache_dir: str, n_docs: int, seed: int) -> dict[str, str]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(d: str) -> dict[str, str]:
        p = os.path.join(d, "documents.parquet")
        pq.write_table(
            pa.Table.from_pandas(generate_documents(n_docs, seed), preserve_index=False),
            p,
            row_group_size=max(1, n_docs // 16),
        )
        return {"documents": p}

    return _cached(cache_dir, f"documents-{n_docs}-{seed}", build)
