"""Streaming curation: the funnel of ``jobs/curate_job`` for a
continuously-arriving document feed.

Exact dedup uses Spark's native streaming dedup state,
``dropDuplicatesWithinWatermark`` on the normalized-text fingerprint:
a duplicate arriving within the watermark horizon of its first copy is
dropped; state for a fingerprint is evicted once the watermark passes
its last-seen event time + delay, so total state is bounded by the
horizon's document arrival rate — the standard streaming-dedup
contract (duplicates farther apart than the horizon pass through;
batch `curate` is the exact-at-any-distance form).

The lang/quality/token filters are the batch funnel's predicates
(``jobs.curate_job.row_filters_sql``) over the same expression-only
free riders — stateless, so stream == batch per row.

Near-dup (MinHash/embedding) stages are deliberately batch-only: their
band self-joins need the whole corpus on both sides; the honest
streaming form is periodic batch compaction over the accumulated
table (run ``curate_job`` on a schedule), not a stream-stream join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from astrospectro_spark.jobs.curate_job import row_filters_sql


def stream_curate(
    stream_df: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    watermark: str = "1 hour",
    langs: list[str] | None = None,
    min_quality: float | None = None,
    min_tokens: int | None = None,
    max_tokens: int | None = None,
) -> DataFrame:
    """Curate a streaming documents feed: watermark-bounded exact dedup
    on the text fingerprint, then the expression filters. Returns a
    streaming DataFrame (append mode)."""
    from astrospectro_spark.functions.text import (
        with_fingerprint,
        with_lang_id,
        with_quality,
        with_token_stats,
    )

    out = (
        with_fingerprint(stream_df, text_col)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )
    out = with_lang_id(out, text_col)
    out = with_quality(out, text_col)
    out = with_token_stats(out, text_col)
    filters = row_filters_sql(langs, min_quality, min_tokens, max_tokens)
    return out.filter(" AND ".join(f"({f})" for f in filters))
