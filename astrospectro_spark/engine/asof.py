"""Point-in-time / as-of join — the engine's tolerance-nearest join.

Graft analogue of the reference's Gaia nearest-neighbour cross-match
(match within radius, keep best match per entity — reference:
src/tools/gaia_crossmatcher.py:712-744) and the line↔peak tolerance
association (reference: src/pipeline/peak_detector.py:137-181).

Two implementations, same semantics:

1. :func:`asof_join` — the scale path. A sorted-merge as-of expressed
   as pure DataFrame ops: union turns+anchors, ONE hash exchange on
   conv_id, one sort on (ts, is_anchor, turn_idx), a running
   ``last(struct, ignorenulls)`` carry, filter back to anchor rows.
   Zero Python in the plan; whole-stage codegen end to end; cost is
   one shuffle of (turns+anchors) — at 100 TB this beats any
   range-join (no row explosion) and any grouped UDF (no Arrow hop).

2. :func:`asof_join_grouped` — the ``pd.merge_asof`` path the
   north_star names: ``cogroup(...).applyInPandas``. Kept as the
   reference semantics cross-check and for per-group kernels that
   genuinely need pandas.

There is no salted variant: no job routes anchors through one, and the
reference keeps a single cross-match path too (Gaia best match,
src/tools/gaia_crossmatcher.py:712-744). A hot conversation's as-of
therefore sorts in one task; the skew split lives in featurize
(:mod:`engine.skew`).

Both take turns keyed by ``conv_id`` with ``ts`` and ``turn_idx``, and
anchors keyed by ``conv_id`` with ``anchor_ts``; callers with other
column names rename to these (``queries.q_asof_*``).

Semantics: for each anchor, the LATEST turn with ``ts <= anchor_ts``
(boundary inclusive), ties broken by largest ``turn_idx``; optional
per-row tolerance nulls out matches older than ``anchor_ts -
tolerance_s`` (≙ ±window Å, reference: src/pipeline/peak_detector.py:74-89).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_VALUE_COLS = ["turn_idx", "role", "text", "tool", "ts"]


def asof_join(
    turns: DataFrame,
    anchors: DataFrame,
    value_cols: list[str] | None = None,
    tolerance_col: str | None = None,
) -> DataFrame:
    """Sorted-merge as-of join as a single window plan (no UDF).

    Plan shape: unionByName → Exchange hashpartitioning(conv_id) →
    Sort(ts, _is_anchor, turn_idx) → Window(last carry) → Filter.
    ``_is_anchor`` sorts anchors AFTER turns with equal ts, which makes
    the boundary ``ts == anchor_ts`` inclusive by construction.
    """
    value_cols = value_cols or DEFAULT_VALUE_COLS
    anchor_payload = [c for c in anchors.columns if c != "conv_id"]

    t = turns.select(
        F.col("conv_id"),
        F.col("ts").alias("_ts"),
        F.lit(0).alias("_is_anchor"),
        F.col("turn_idx").cast("long").alias("_tie"),
        F.struct(*[F.col(c).alias(f"asof_{c}") for c in value_cols]).alias("_carry"),
    )
    a = anchors.select(
        F.col("conv_id"),
        F.col("anchor_ts").alias("_ts"),
        F.lit(1).alias("_is_anchor"),
        F.lit(None).cast("long").alias("_tie"),
        F.lit(None)
        .cast(t.schema["_carry"].dataType)
        .alias("_carry"),
        *[F.col(c) for c in anchor_payload],
    )
    u = t.unionByName(a, allowMissingColumns=True)

    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("_ts").asc(), F.col("_is_anchor").asc(), F.col("_tie").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("_asof", F.last("_carry", ignorenulls=True).over(w))
    out = u.filter(F.col("_is_anchor") == 1).select(
        F.col("conv_id"),
        *[F.col(c) for c in anchor_payload],
        *[F.col("_asof").getField(f"asof_{c}").alias(f"asof_{c}") for c in value_cols],
    )
    if tolerance_col:
        out = _null_when_too_old(out, tolerance_col, value_cols)
    return out


def _null_when_too_old(out, tolerance_col, value_cols):
    """Null every asof_* column when the match is older than the
    tolerance (in seconds, fractions kept). The predicate is evaluated
    into a temp column FIRST, from the unnulled asof_ts, and one
    projection then nulls every asof_* column from it and drops it,
    whatever the position of 'ts' in value_cols."""
    too_old = (
        F.unix_micros(F.col("anchor_ts").cast("timestamp"))
        - F.unix_micros(F.col("asof_ts").cast("timestamp"))
    ) > F.col(tolerance_col).cast("double") * 1_000_000
    nulled = {f"asof_{c}" for c in value_cols}
    return out.withColumn("_too_old", too_old).select(
        *[
            F.when(F.col("_too_old"), F.lit(None)).otherwise(F.col(c)).alias(c)
            if c in nulled
            else F.col(c)
            for c in out.columns
        ]
    )


def asof_join_grouped(
    turns: DataFrame,
    anchors: DataFrame,
    value_cols: list[str] | None = None,
    tolerance_col: str | None = None,
) -> DataFrame:
    """As-of via ``cogroup(...).applyInPandas(pd.merge_asof)``.

    The repartition-by-entity + secondary-sort + Arrow-UDF pattern the
    north_star names; one shuffle per side, pandas kernel per
    conversation. Anchors on conv_ids absent from ``turns`` still
    produce a row (NULL asof_*) — cogroup delivers the left-empty group.
    """
    import pandas as pd  # noqa: F401  (imported on executors)

    from astrospectro_spark.oracle.pandas_oracle import oracle_asof

    value_cols = value_cols or DEFAULT_VALUE_COLS
    anchor_payload = [c for c in anchors.columns if c != "conv_id"]

    type_map = dict(turns.dtypes)
    a_types = dict(anchors.dtypes)
    out_fields = (
        [f"conv_id {type_map['conv_id']}"]
        + [f"{c} {a_types[c]}" for c in anchor_payload]
        + [f"asof_{c} {type_map[c]}" for c in value_cols]
    )
    schema = ", ".join(out_fields)

    int_like = {
        c
        for c in value_cols
        if type_map[c] in ("tinyint", "smallint", "int", "bigint", "long")
    }

    def fn(t_pdf, a_pdf):
        import pandas as _pd

        cols = ["conv_id"] + anchor_payload + [f"asof_{c}" for c in value_cols]
        if len(a_pdf) == 0:
            return _pd.DataFrame(columns=cols)
        if len(t_pdf) == 0:
            out = a_pdf.copy()
            for c in value_cols:
                out[f"asof_{c}"] = None
            return out[cols]
        m = oracle_asof(
            t_pdf, a_pdf, value_cols=value_cols, tolerance_col=tolerance_col
        )
        # merge_asof promotes int columns with unmatched rows to float64
        # (NaN) — convert to nullable Int64 so Arrow can emit int + NULL.
        for c in int_like:
            m[f"asof_{c}"] = m[f"asof_{c}"].astype("Int64")
        return m[cols]

    return (
        turns.groupby("conv_id")
        .cogroup(anchors.groupby("conv_id"))
        .applyInPandas(fn, schema=schema)
    )
