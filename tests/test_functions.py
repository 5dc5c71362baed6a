"""Training-data pipeline functions: dedup tiers, similarity search,
text analysis, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "s1"),
        (1, "the quick brown fox jumps over the lazy cat", "en", "s1"),  # near-dup of 0
        (2, "the quick brown fox jumps over the lazy dog", "en", "s1"),  # exact dup of 0
        (3, "completely different text about spark engines", "en", "s1"),
        (4, "le renard brun rapide et le chien paresseux", "fr", "s1"),
        (5, "", "en", "s2"),
        (6, "  THE   Quick  Brown Fox jumps over the lazy dog ", "en", "s1"),  # norm-dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_exact_dedup_normalizes_whitespace_and_case(spark, docs):
    from astrospectro_spark.functions.dedup import exact_dup_groups

    out = exact_dup_groups(docs).toPandas().set_index("doc_id")
    assert out.loc[2, "keeper_id"] == 0 and out.loc[2, "is_duplicate"]
    assert out.loc[6, "keeper_id"] == 0 and out.loc[6, "is_duplicate"]
    assert out.loc[0, "group_size"] == 3 and not out.loc[0, "is_duplicate"]
    assert not out.loc[1, "is_duplicate"]


def test_ngram_jaccard_finds_near_dup(spark, docs):
    from astrospectro_spark.functions.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
    pairs = set(zip(out.id_a, out.id_b))
    assert (0, 1) in pairs  # one word differs → high shingle overlap
    assert (0, 3) not in pairs


def test_ngram_jaccard_block_cap_routes_oversized_blocks(spark, docs):
    """With max_block_rows set, an oversized block must go through the
    MinHash+LSH path (no all-pairs explosion) while small blocks stay
    exact; every emitted pair still satisfies jaccard >= threshold and
    exact/near dups inside the oversized block are still found."""
    from astrospectro_spark.functions.dedup import ngram_jaccard_pairs

    # oversized block: 30 docs in (en, big) incl. an exact-dup pair and
    # a one-word-off near-dup pair; small block: the original docs
    big_rows = [
        (100 + i, f"document number {i} talks about topic {i % 7} in detail", "en", "big")
        for i in range(26)
    ] + [
        (200, "the quick brown fox jumps over the lazy dog", "en", "big"),
        (201, "the quick brown fox jumps over the lazy dog", "en", "big"),  # exact dup
        (202, "the quick brown fox jumps over the lazy cat", "en", "big"),  # near dup
        (203, "unrelated filler sentence with no overlap here", "en", "big"),
    ]
    big = spark.createDataFrame(
        big_rows, "doc_id long, text string, lang string, source string"
    )
    d = docs.unionByName(big)

    capped = ngram_jaccard_pairs(d, threshold=0.5, max_block_rows=20).toPandas()
    pairs = set(zip(capped.id_a, capped.id_b))
    assert (200, 201) in pairs  # exact dup: identical signature, always collides
    assert (200, 202) in pairs or (201, 202) in pairs  # near dup via shared bands
    assert (0, 1) in pairs  # small block still exact all-pairs
    assert (capped.jaccard >= 0.5).all()
    # no cross-block pairs even when texts are identical across blocks
    m = capped.merge(
        d.toPandas()[["doc_id", "source"]].rename(columns={"doc_id": "id_a", "source": "src_a"}),
        on="id_a",
    ).merge(
        d.toPandas()[["doc_id", "source"]].rename(columns={"doc_id": "id_b", "source": "src_b"}),
        on="id_b",
    )
    assert (m.src_a == m.src_b).all()
    # uncapped (oracle config) on the same input is the exact superset
    exact = ngram_jaccard_pairs(d, threshold=0.5, max_block_rows=None).toPandas()
    assert pairs <= set(zip(exact.id_a, exact.id_b))
    # the production default cap is finite (no silent O(n²) foot-gun) —
    # and on blocks under the cap it matches the exact path
    import inspect

    assert inspect.signature(ngram_jaccard_pairs).parameters["max_block_rows"].default == 100_000
    dflt = ngram_jaccard_pairs(d, threshold=0.5).toPandas()
    assert set(zip(dflt.id_a, dflt.id_b)) == set(zip(exact.id_a, exact.id_b))


def _jaccard_reference(texts: dict[int, str], n: int, threshold: float) -> dict:
    """Plain-Python word n-gram Jaccard of every pair of one block, for
    lowercase single-spaced texts (normalization is then a no-op)."""

    def shingles(text):
        t = text.split(" ")
        return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)} if len(t) >= n else {text}

    sh = {i: shingles(t) for i, t in texts.items()}
    ids = sorted(sh)
    out = {}
    for k, a in enumerate(ids):
        for b in ids[k + 1:]:
            j = round(len(sh[a] & sh[b]) / len(sh[a] | sh[b]), 6)
            if j >= threshold:
                out[(a, b)] = j
    return out


def test_ngram_jaccard_many_planted_pairs_match_reference(spark):
    """One block with 150 planted near-duplicate pairs (50 documents and
    two one- or two-word edits of each) among unrelated documents: the
    exact path returns exactly the plain-Python Jaccard pairs and
    values, and the capped (MinHash+LSH) path a subset of them with the
    same values."""
    import random

    from astrospectro_spark.functions.dedup import ngram_jaccard_pairs

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(400)]
    texts = {}
    for k in range(50):
        base = rng.sample(vocab, 16)
        texts[3 * k] = " ".join(base)
        for e in (1, 2):
            edited = list(base)
            for pos in rng.sample(range(16), e):
                edited[pos] = rng.choice(vocab)
            texts[3 * k + e] = " ".join(edited)
    for k in range(20):
        texts[1000 + k] = " ".join(rng.sample(vocab, rng.randint(2, 20)))
    docs = spark.createDataFrame(
        [(i, t, "en", "s") for i, t in texts.items()],
        "doc_id long, text string, lang string, source string",
    )
    threshold = 0.3
    want = _jaccard_reference(texts, 3, threshold)
    planted = {(3 * k, 3 * k + e) for k in range(50) for e in (1, 2)} | {
        (3 * k + 1, 3 * k + 2) for k in range(50)
    }
    assert len(planted & set(want)) >= 100 and len(want) == 136

    exact = ngram_jaccard_pairs(docs, threshold=threshold, max_block_rows=None).collect()
    assert {(r.id_a, r.id_b): r.jaccard for r in exact} == want
    capped = ngram_jaccard_pairs(docs, threshold=threshold, max_block_rows=50).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in capped}
    assert all(want.get(p) == j for p, j in got.items())
    assert len(got) >= 100  # the LSH bands find most of the 136 pairs


def test_lsh_band_geometry_tracks_threshold():
    """Band count derives from the verify threshold so near-threshold
    recall does not collapse at low thresholds (ADVICE r03): the
    S-curve midpoint (1/b)^(1/r) must sit at or below the threshold."""
    from astrospectro_spark.functions.dedup import lsh_params_for_threshold

    for t in (0.1, 0.2, 0.3, 0.5, 0.7, 0.9):
        b = lsh_params_for_threshold(t, 32)
        assert 32 % b == 0
        r = 32 // b
        s = (1.0 / b) ** (1.0 / r)
        assert s <= t or b == 32  # b=32,r=1 is the floor geometry
    # concrete anchors: low threshold → many bands; high → few
    assert lsh_params_for_threshold(0.2, 32) == 32
    assert lsh_params_for_threshold(0.3, 32) == 16
    assert lsh_params_for_threshold(0.9, 32) in (2, 4)


def test_minhash_lsh_recovers_exact_and_near_dups(spark, docs):
    from astrospectro_spark.functions.dedup import minhash_lsh_candidates

    out = minhash_lsh_candidates(docs, verify_threshold=0.5).toPandas()
    pairs = set(zip(out.id_a, out.id_b))
    assert (0, 2) in pairs  # exact dup always collides
    assert all(j >= 0.5 for j in out.jaccard)


def test_simhash_hamming_close_for_near_dups(spark, docs):
    from astrospectro_spark.functions.dedup import simhash64

    out = (
        docs.filter(F.col("doc_id").isin(0, 1, 2, 3))
        .select("doc_id", simhash64("text").alias("h"))
        .toPandas()
        .set_index("doc_id")["h"]
    )
    def ham(a, b):
        return bin((int(a) ^ int(b)) & ((1 << 64) - 1)).count("1")

    assert ham(out[0], out[2]) == 0  # identical text
    assert ham(out[0], out[1]) < ham(out[0], out[3])


def test_cosine_topk_exact(spark):
    from astrospectro_spark.functions.similarity import cosine_topk

    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(30, 8)).astype(np.float32)
    vecs[7] = vecs[3] * 2.0  # same direction as 3 → cosine 1
    pdf = pd.DataFrame({"vec_id": range(30), "embedding": [v.tolist() for v in vecs]})
    sdf = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    out = cosine_topk(sdf.filter("vec_id = 3"), sdf, k=3).toPandas()
    assert out.iloc[0]["cand_id"] == 7 and out.iloc[0]["cosine"] == pytest.approx(1.0)
    # oracle: numpy cosine, same top-3
    sims = vecs @ vecs[3] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[3]))
    sims[3] = -np.inf
    want = set(np.argsort(-sims)[:3].tolist())
    assert set(out["cand_id"]) == want


def test_lsh_topk_subset_of_exact_scores(spark):
    from astrospectro_spark.functions.similarity import cosine_topk, lsh_cosine_topk

    rng = np.random.default_rng(1)
    vecs = rng.normal(size=(60, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(60), "embedding": [v.tolist() for v in vecs]})
    sdf = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    q = sdf.filter("vec_id < 3")
    exact = cosine_topk(q, sdf, k=60).toPandas()
    approx = lsh_cosine_topk(q, sdf, k=5, n_planes=4, n_tables=6, dim=16).toPandas()
    assert len(approx) > 0
    # every approx (query, cand, cosine) must agree with the exact scores
    key = exact.set_index(["query_id", "cand_id"])["cosine"]
    for r in approx.itertuples():
        assert key.loc[(r.query_id, r.cand_id)] == pytest.approx(r.cosine)


def test_multimodal_plumbing(spark, documents_sdf):
    from astrospectro_spark.functions.multimodal import extract_media_features, media_from_docs

    media = media_from_docs(documents_sdf.orderBy("doc_id").limit(48)).repartition(7)
    out = extract_media_features(media).toPandas()
    assert len(out) == 48
    assert set(out["kind"]) == {"image", "audio", "video"}
    assert out["sha1"].nunique() == 48
    img = out[out["kind"] == "image"]
    assert (img["thumb_w"] == 16).all() and (img["n_frames_sampled"] == 1).all()
    vid = out[out["kind"] == "video"]
    assert (vid["n_frames_sampled"] >= 1).all()
    # determinism across partitionings
    out2 = extract_media_features(media.repartition(3)).toPandas()
    a = out.sort_values("media_id").reset_index(drop=True)
    b = out2.sort_values("media_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, rtol=0, atol=0)


def test_decoder_capability_gate():
    """DECODER auto-selects the real decode when PIL is importable and
    the deterministic fake otherwise; missing capabilities fail loudly,
    never silently wrong."""
    from astrospectro_spark.functions import multimodal as mm

    if mm._pil_available():
        assert mm.DECODER is mm._decode_real
    else:
        assert mm.DECODER is mm._decode_fake
        with pytest.raises((NotImplementedError, ImportError)):
            mm._decode_real(b"\x00", "image")
    # video decode needs av — loud in every container; audio is real
    # everywhere now (stdlib wave), tested separately below
    with pytest.raises(NotImplementedError):
        mm._decode_real(b"\x00", "video")


def test_real_wav_decode_everywhere(spark):
    """PCM WAV audio decodes for REAL in every container (stdlib wave +
    numpy, no librosa): 16-bit mono and 8-bit stereo through the same
    mapInPandas plumbing, mean_val equal to the known samples' mean."""
    import io
    import wave as wavmod

    import numpy as np

    from astrospectro_spark.functions import multimodal as mm

    def wav_bytes(samples, width, nch, rate=16_000):
        buf = io.BytesIO()
        with wavmod.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(width)
            w.setframerate(rate)
            w.writeframes(samples.tobytes())
        return buf.getvalue()

    mono = (np.arange(-400, 400, dtype="<i2") * 3).astype("<i2")
    stereo = np.arange(0, 256, dtype=np.uint8)  # 8-bit interleaved L/R
    media = spark.createDataFrame(
        [
            (0, "audio", bytearray(wav_bytes(mono, 2, 1)), 0, 0, 0.05, 16_000),
            (1, "audio", bytearray(wav_bytes(stereo, 1, 2)), 0, 0, 0.01, 16_000),
        ],
        mm.MEDIA_SCHEMA,
    )
    out = (
        mm.extract_media_features(media, decoder=mm._decode_real)
        .toPandas()
        .set_index("media_id")
    )
    assert out.loc[0, "mean_val"] == pytest.approx(float(mono.mean()))
    want_stereo = (stereo.astype(np.float64) - 128.0).reshape(-1, 2).mean(axis=1)
    assert out.loc[1, "mean_val"] == pytest.approx(float(want_stereo.mean()))
    # direct-call parity: decoder output is the exact sample vector
    got = mm._decode_real(wav_bytes(mono, 2, 1), "audio")
    assert np.array_equal(got, mono.astype(np.float64))


def test_decoder_swap_changes_no_plumbing(spark, documents_sdf):
    """Swapping the decoder callable (the capability gate's only moving
    part) must leave schema, row count, and all payload-derived columns
    identical — only the decoded-sample statistics may change."""
    import numpy as np

    from astrospectro_spark.functions.multimodal import (
        _decode_fake,
        extract_media_features,
        media_from_docs,
    )

    def other_decoder(payload: bytes, kind: str) -> "np.ndarray":
        return np.frombuffer(payload, dtype=np.uint8).astype(np.float64) * 2.0

    media = media_from_docs(documents_sdf.orderBy("doc_id").limit(24)).repartition(5)
    a = extract_media_features(media, decoder=_decode_fake).toPandas()
    b = extract_media_features(media, decoder=other_decoder).toPandas()
    a = a.sort_values("media_id").reset_index(drop=True)
    b = b.sort_values("media_id").reset_index(drop=True)
    assert list(a.columns) == list(b.columns)
    assert a.dtypes.equals(b.dtypes)
    for c in ("media_id", "kind", "n_bytes", "sha1", "n_frames_sampled", "thumb_w", "thumb_h"):
        assert (a[c] == b[c]).all(), c
    assert np.allclose(b["mean_val"], a["mean_val"] * 2.0)


def test_real_image_decode_when_pil_available(spark):
    """Skip-if-unavailable proof that the REAL decoder runs through the
    same mapInPandas plumbing on an actual encoded image."""
    from astrospectro_spark.functions import multimodal as mm

    if not mm._pil_available():
        pytest.skip("PIL not installed in this container")
    from io import BytesIO

    import numpy as np
    from PIL import Image

    arr = (np.arange(64 * 64) % 256).astype("uint8").reshape(64, 64)
    buf = BytesIO()
    Image.fromarray(arr, mode="L").save(buf, format="PNG")
    media = spark.createDataFrame(
        [(0, "image", bytearray(buf.getvalue()), 64, 64, 0.0, 0)], mm.MEDIA_SCHEMA
    )
    out = mm.extract_media_features(media, decoder=mm._decode_real).toPandas()
    assert len(out) == 1
    assert out.loc[0, "mean_val"] == pytest.approx(float(arr.mean()))


def test_lang_id_and_quality(spark, docs):
    from astrospectro_spark.functions.text import with_lang_id, with_quality, with_token_stats

    out = with_lang_id(docs).toPandas().set_index("doc_id")
    assert out.loc[0, "pred_lang"] == "en"
    assert out.loc[4, "pred_lang"] == "fr"
    ts = with_token_stats(docs).toPandas().set_index("doc_id")
    assert ts.loc[0, "n_tokens"] == 9
    assert ts.loc[5, "n_tokens"] == 0 and pd.isna(ts.loc[5, "avg_token_len"])
    q = with_quality(docs).toPandas().set_index("doc_id")
    assert 0 <= q.loc[0, "stopword_ratio"] <= 1


def test_shingle_token_cap(spark):
    """max_tokens bounds the per-row shingle array: identical to
    uncapped on short docs, truncated-prefix semantics on giant ones
    (two docs sharing the first max_tokens tokens become near-dups)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from astrospectro_spark.functions.dedup import shingles

    long_a = " ".join(f"tok{i}" for i in range(200)) + " unique tail alpha"
    long_b = " ".join(f"tok{i}" for i in range(200)) + " different ending beta"
    pdf = pd.DataFrame({"doc_id": [0, 1, 2], "text": ["short doc here now", long_a, long_b]})
    df = spark.createDataFrame(pdf)

    out = df.select(
        "doc_id",
        F.size(shingles("text")).alias("full"),
        F.size(shingles("text", max_tokens=50)).alias("capped"),
        shingles("text", max_tokens=50).alias("capped_sh"),
    ).toPandas().set_index("doc_id")
    # short doc: cap is a no-op
    assert out.loc[0, "full"] == out.loc[0, "capped"]
    # long docs: capped to 48 trigrams over the first 50 tokens
    assert out.loc[1, "full"] > out.loc[1, "capped"] == 48
    # prefix-identical giants are indistinguishable under the cap
    assert sorted(out.loc[1, "capped_sh"]) == sorted(out.loc[2, "capped_sh"])


def _py_shingles(text, n=3, max_tokens=None):
    """Plain-Python shingles: Java's ``\\s`` is ASCII whitespace and
    Spark's ``trim`` strips spaces only; ``array_distinct`` keeps first
    occurrences in order."""
    import re

    if text is None:
        return [""]  # a NULL text shingles to [''] (pinned as it is)
    toks = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ").split(" ")
    toks = toks[:max_tokens]
    if len(toks) < n:
        return [" ".join(toks)]
    return list(dict.fromkeys(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)))


def test_shingles_match_python_reference(spark):
    """shingles equals a plain-Python reference, order included, on
    adversarial texts: NULL, empty, whitespace only, tabs and
    newlines, 1-3 tokens, repeated trigrams, non-ASCII (a no-break
    space is not whitespace to the tokenizer) and longer than
    max_tokens."""
    from astrospectro_spark.functions.dedup import shingles

    texts = [
        None,
        "",
        "   ",
        "\t\n \r\n",
        "  Lead\tand\n\ntrail  ",
        "one",
        "two words",
        "x y z",
        "a b c a b c a b c",
        "Ünïcode ÄÖ straße 日本 語",
        "p q\u00a0r s",
        " ".join(f"w{i % 7}" for i in range(80)),
        " ".join(f"tok{i}" for i in range(120)),
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
    cases = [(3, None), (3, 50), (2, None), (3, 2)]
    out = df.select(
        "doc_id", *[shingles("text", n, m).alias(f"sh_{n}_{m}") for n, m in cases]
    ).orderBy("doc_id").collect()
    for row in out:
        text = texts[row["doc_id"]]
        for n, m in cases:
            assert list(row[f"sh_{n}_{m}"]) == _py_shingles(text, n, m), (text, n, m)


_JAVA_WS = "[ \t\n\x0b\f\r]+"  # Java regex \s: ASCII whitespace only


def _round6(x):
    """Spark's round(double, 6): HALF_UP on the double's shortest
    decimal form."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _py_text_features(text):
    """Plain-Python with_token_stats, with_quality, with_lang_id and
    with_fingerprint of one non-NULL text: Spark's trim strips spaces
    only and its split keeps leading empty tokens, as re.split does."""
    import hashlib
    import re

    import regex

    from astrospectro_spark.functions.text import (
        BPE_TOKEN_RE,
        EN_STOPWORDS,
        LANG_MARKERS,
    )

    # Java's \s is ASCII whitespace; \p{L} and \p{N} are Unicode in both
    java_bpe = BPE_TOKEN_RE.replace(r"[^\s", r"[^ \t\n\x0b\f\r").replace(
        r"|\s+", r"|[ \t\n\x0b\f\r]+"
    )
    trimmed = text.strip(" ")
    n_tok = len(re.split(_JAVA_WS, trimmed)) if trimmed else 0
    padded = f" {text.lower()} "

    def hits(words):
        return sum(
            (len(padded) - len(padded.replace(f" {w} ", ""))) / len(f" {w} ") for w in words
        )

    def ratio(cls):
        return (len(text) - len(re.sub(cls, "", text))) / float(max(len(text), 1))

    punct, digit = ratio(r"[.,;:!?]"), ratio("[0-9]")
    sw = hits(EN_STOPWORDS) / n_tok if n_tok > 0 else 0.0
    score = min(1.0 - min(punct * 4, 0.25) - min(digit * 4, 0.25) + min(sw, 0.25), 1.0)
    best = max((float(hits(LANG_MARKERS[lang])), lang) for lang in sorted(LANG_MARKERS))
    norm = re.sub(_JAVA_WS, " ", text.lower()).strip(" ")
    return {
        "n_tokens": n_tok,
        "n_tokens_bpe": len(regex.findall(java_bpe, text)),
        "n_chars_measured": len(text),
        "avg_token_len": _round6(len(re.sub(_JAVA_WS, "", trimmed)) / n_tok) if n_tok else None,
        "punct_ratio": _round6(punct),
        "digit_ratio": _round6(digit),
        "upper_ratio": _round6(ratio("[A-Z]")),
        "stopword_ratio": _round6(sw),
        "quality_score": _round6(score),
        "pred_lang": best[1],
        "lang_score": _round6(best[0]),
        "fingerprint": hashlib.md5(norm.encode()).hexdigest(),
    }


@pytest.mark.parametrize("text_col", ["body text", "doc.`text`"])
def test_text_builders_quote_and_escape(spark, text_col):
    """The SQL-text builders quote the column name and escape their
    literals: on a column whose name needs backticks, texts with
    quotes, backslashes, a literal \\s, tabs, newlines, non-ASCII and
    the zh markers give exactly the plain-Python values."""
    from astrospectro_spark.functions.text import (
        with_fingerprint,
        with_lang_id,
        with_quality,
        with_token_stats,
    )

    texts = [
        "It's a \"quoted\" text, isn't it? The end.",
        "back\\slash \\s and \\\\s: a literal \\s+ of the regex",
        "tab\tseparated\tthe\tand\tof columns",
        "new\nline and\r\nthe CRLF ending\n",
        "naïve Café résumé: the ÀÉÎ of 123, 4.5%!",
        "的 是 了 在 中文 的 文本",
        "le la et les; der die und das; el los que y",
        "\ta\tb ",
        "",
        "   ",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", text_col])
    out = with_fingerprint(
        with_lang_id(with_quality(with_token_stats(df, text_col), text_col), text_col), text_col
    )
    for row in out.orderBy("doc_id").collect():
        want = _py_text_features(texts[row["doc_id"]])
        got = {k: row[k] for k in want}
        assert got == want, (texts[row["doc_id"]], got, want)


def test_bpe_token_count_engine_parity(spark):
    """The BPE-ish regex counts the identical segments in Spark (Java
    regex) and DuckDB (RE2) — the pattern deliberately avoids
    lookaheads. Checked on the documents fixture + adversarial
    strings."""
    import duckdb
    import pandas as pd

    from astrospectro_spark.functions.text import BPE_TOKEN_RE, bpe_token_count

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    extra = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [9001, 9002, 9003, 9004],
                "text": pd.array(
                    [
                        "def f(x): return x**2  # code!",
                        "https://example.com/a_b?c=1&d=2",
                        "héllo wörld 123abc !!!",
                        "",
                    ],
                    dtype="string",
                ),
            }
        )
    )
    df = docs.select("doc_id", "text").unionByName(extra)
    got = {
        r.doc_id: r.n
        for r in df.select("doc_id", bpe_token_count("text").alias("n")).collect()
    }
    pdf = df.toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    want = {
        int(r[0]): int(r[1])
        for r in con.execute(
            "SELECT doc_id, len(regexp_extract_all(text, ?)) FROM t",
            [BPE_TOKEN_RE],
        ).fetchall()
    }
    assert got == want
    # sanity: punctuation-dense text yields more segments than whitespace
    assert got[9001] > len("def f(x): return x**2  # code!".split())


class TestConnectedComponents:
    """Large-star/small-star min-id labelling vs a pure-python
    union-find oracle, determinism across partitionings, and the
    O(log n)-round convergence property on a long chain."""

    @staticmethod
    def _oracle(pairs):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    def _check(self, spark, pairs, num_partitions=None):
        from astrospectro_spark.functions.dedup import connected_components

        df = spark.createDataFrame(pairs, ["id_a", "id_b"])
        if num_partitions:
            df = df.repartition(num_partitions)
        got = {
            r["id"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert got == self._oracle(pairs)
        return got

    def test_three_chain_min_label(self, spark):
        # A≈C, B≈C only: one component {A,B,C}, root A
        got = self._check(spark, [("docA", "docC"), ("docB", "docC")])
        assert got == {"docA": "docA", "docB": "docA", "docC": "docA"}

    def test_random_graph_vs_union_find(self, spark):
        import random

        rng = random.Random(42)
        nodes = [f"n{i:03d}" for i in range(80)]
        pairs = [tuple(rng.sample(nodes, 2)) for _ in range(60)]
        self._check(spark, pairs)

    def test_deterministic_across_partitionings(self, spark):
        import random

        rng = random.Random(7)
        nodes = list(range(50))
        pairs = [tuple(rng.sample(nodes, 2)) for _ in range(40)]
        a = self._check(spark, pairs, num_partitions=1)
        b = self._check(spark, pairs, num_partitions=13)
        assert a == b

    def test_long_chain_converges_in_log_rounds(self, spark):
        # a 200-node chain: naive min-propagation needs ~200 rounds;
        # star-contraction must finish far inside max_iterations=12
        from astrospectro_spark.functions.dedup import connected_components

        pairs = [(i, i + 1) for i in range(200)]
        df = spark.createDataFrame(pairs, ["id_a", "id_b"])
        labels = connected_components(df, max_iterations=12).collect()
        assert {r["component"] for r in labels} == {0}
        assert len(labels) == 201

    def test_self_loops_and_duplicate_edges(self, spark):
        got = self._check(
            spark,
            [(1, 1), (1, 2), (2, 1), (1, 2), (4, 4), (5, 6)],
        )
        # 4's only edge is a self-loop: still labelled (its own root)
        assert got[4] == 4 and got[5] == 5 and got[6] == 5
