"""Text analysis for training-data pipelines — all JVM-side expressions
(whole-stage codegen; no Python in the hot path).

Token counting, quality scoring, language-ID heuristic, and document
fingerprinting over a ``documents(doc_id, text, ...)`` table. Each has
an exact DuckDB oracle (same regex/arithmetic) in oracle/duckdb_sql.py.

SQL-text rule: every per-row builder here and in ``functions/dedup.py``
is SQL expression text, parsed once per output column (``F.expr``);
the ``*_sql`` builders return ``{column: text}`` and :func:`with_sql`
adds them in one ``withColumns``. Built through the Column API, every
operator and literal is its own Py4J round trip to the JVM:
the ``curate_job.curate`` plan took 5,227 commands (plus object
releases) and 1.2–1.7 s to build, as text 603 and 0.5–0.9 s (warm,
``local[4]``, 4-core host, sf0.1 documents). The optimized plans are
the same. Writing Spark SQL text by hand has three traps:

- a bare ``0.25`` is a DECIMAL literal; a double is ``0.25D``;
- string literals unescape backslashes, so the regex ``\\s+`` is
  written ``'\\\\s+'`` — :func:`quote_str` quotes any string;
- column names go through :func:`quote_ident` (backticks), so a name
  with a space or a backtick still resolves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_RE = r"\s+"

# stopword markers per language for the n-gram/marker heuristic —
# counts of ' w ' occurrences scored per language, argmax wins.
LANG_MARKERS = {
    "en": ["the", "and", "of", "a"],
    "fr": ["le", "la", "et", "les"],
    "de": ["der", "die", "und", "das"],
    "es": ["el", "los", "que", "y"],
    "zh": ["的", "是", "了", "在"],
}

EN_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]


def quote_ident(name: str) -> str:
    """A column name as a SQL identifier (backticks, doubled inside)."""
    return "`" + name.replace("`", "``") + "`"


def quote_str(s: str) -> str:
    """A Python string as a Spark SQL string literal. The parser
    unescapes backslashes (``spark.sql.parser.escapedStringLiterals``
    is off by default), so they are doubled, as are quotes."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def tokens_sql(c: str) -> str:
    """Whitespace tokens of the SQL expression ``c``."""
    return f"split(trim({c}), {quote_str(TOKEN_RE)})"


def normalized_sql(c: str) -> str:
    """Lowercased, whitespace-collapsed, trimmed text: the fingerprint
    and shingle input."""
    return f"trim(regexp_replace(lower({c}), {quote_str(TOKEN_RE)}, ' '))"


def _token_count_sql(c: str) -> str:
    """Whitespace token count; 0 for empty/blank text (split('') yields
    [''], so guard on trimmed length)."""
    return f"CAST(CASE WHEN length(trim({c})) = 0 THEN 0 ELSE size({tokens_sql(c)}) END AS BIGINT)"


BPE_TOKEN_RE = r" ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def _bpe_token_count_sql(c: str) -> str:
    return f"CAST(regexp_count({c}, {quote_str(BPE_TOKEN_RE)}) AS BIGINT)"


def bpe_token_count(col: str = "text") -> Column:
    """BPE-ish token count: the GPT-2 pre-tokenizer's segment classes
    (optionally space-prefixed letter runs / digit runs / punctuation
    runs, plus whitespace runs), without its lookahead branches so the
    pattern stays RE2-compatible — DuckDB counts the identical
    segments with ``len(regexp_extract_all(text, ...))`` (engine-parity
    tested). Approximates subword token counts far better than
    whitespace splitting on code, URLs, and punctuation-dense text."""
    return F.expr(_bpe_token_count_sql(quote_ident(col)))


def _count_occurrences_sql(c: str, needle: str) -> str:
    """Occurrences of ``needle`` via the length-difference trick —
    identical semantics in any SQL engine."""
    return f"(length({c}) - length(replace({c}, {quote_str(needle)}, ''))) / {len(needle)}"


def _marker_hits_sql(c: str, words: list[str]) -> str:
    """Summed occurrences of `` w `` in the lowercased, space-padded
    text, over ``words``."""
    padded = f"concat(' ', lower({c}), ' ')"
    return " + ".join(_count_occurrences_sql(padded, f" {w} ") for w in words)


def with_sql(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    """``df`` plus one column per ``name: SQL text`` entry, in one
    ``withColumns`` (one parse per column)."""
    return df.withColumns({name: F.expr(text) for name, text in exprs.items()})


def token_stats_sql(text_col: str = "text") -> dict[str, str]:
    """Whitespace and BPE-ish token counts, measured length and mean
    token length."""
    c = quote_ident(text_col)
    n_tok = _token_count_sql(c)
    return {
        "n_tokens": n_tok,
        "n_tokens_bpe": _bpe_token_count_sql(c),
        "n_chars_measured": f"CAST(length({c}) AS BIGINT)",
        "avg_token_len": (
            f"round(CASE WHEN {n_tok} > 0 THEN length(regexp_replace(trim({c}), "
            f"{quote_str(TOKEN_RE)}, '')) / {n_tok} END, 6)"
        ),
    }


def quality_sql(text_col: str = "text") -> dict[str, str]:
    """Quality heuristics: punctuation/digit/upper ratios + stopword
    ratio → composite score in [0,1]. The reference's analogue is the
    SNR/RUWE quality gating (SURVEY §2.2 F11/F12)."""
    c = quote_ident(text_col)
    length = f"CAST(greatest(length({c}), 1) AS DOUBLE)"

    def ratio(cls: str) -> str:
        return f"(length({c}) - length(regexp_replace({c}, {quote_str(cls)}, ''))) / {length}"

    punct, digit, upper = ratio(r"[\.,;:!\?]"), ratio(r"[0-9]"), ratio(r"[A-Z]")
    n_tok = _token_count_sql(c)
    sw_ratio = (
        f"CASE WHEN {n_tok} > 0 THEN ({_marker_hits_sql(c, EN_STOPWORDS)}) / {n_tok} ELSE 0.0D END"
    )
    score = (
        f"least(1.0D - least(({punct}) * 4, 0.25D) - least(({digit}) * 4, 0.25D)"
        f" + least({sw_ratio}, 0.25D), 1.0D)"
    )
    return {
        "punct_ratio": f"round({punct}, 6)",
        "digit_ratio": f"round({digit}, 6)",
        "upper_ratio": f"round({upper}, 6)",
        "stopword_ratio": f"round({sw_ratio}, 6)",
        "quality_score": f"round({score}, 6)",
    }


def lang_id_sql(text_col: str = "text") -> dict[str, str]:
    """Marker-word language ID: count per-language stopword hits,
    argmax with deterministic tie-break on language code order."""
    c = quote_ident(text_col)
    scores = ", ".join(
        f"struct(CAST({_marker_hits_sql(c, LANG_MARKERS[lang])} AS DOUBLE) AS score,"
        f" {quote_str(lang)} AS lang)"
        for lang in sorted(LANG_MARKERS)
    )
    # argmax: greatest score, ties → lexicographically LAST lang wins
    # under struct comparison; invert lang for deterministic first-wins?
    # keep struct-max semantics (score, lang) — documented, oracle matches.
    best = f"greatest({scores})"
    return {"pred_lang": f"{best}.lang", "lang_score": f"round({best}.score, 6)"}


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``df`` plus the :func:`token_stats_sql` columns."""
    return with_sql(df, token_stats_sql(text_col))


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``df`` plus the :func:`quality_sql` columns."""
    return with_sql(df, quality_sql(text_col))


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``df`` plus the :func:`lang_id_sql` columns."""
    return with_sql(df, lang_id_sql(text_col))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of lowercased, whitespace-collapsed,
    trimmed text — the exact-dedup key (SURVEY §2.8 C10 analog)."""
    return with_sql(df, {"fingerprint": f"md5({normalized_sql(quote_ident(text_col))})"})
