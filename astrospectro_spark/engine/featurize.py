"""Grouped-map feature factory: ``groupBy(conv_id).applyInPandas``.

The graft analogue of the reference's per-spectrum ``extract_features``
kernel (reference: src/pipeline/feature_engineering.py:1222-1358) run
under its process pool (reference: src/pipeline/processing.py:124-143,
387-444): Spark's scan replaces the I/O thread pool, Arrow replaces the
buffer-protocol IPC, reused Python workers replace the long-lived
ProcessPool, and the module-level kernel import replaces
``_init_cpu_worker``'s once-per-process init.

The kernel is the SAME code as the pandas oracle
(:func:`astrospectro_spark.oracle.pandas_oracle.featurize_pdf`) — one
source of truth for per-entity semantics; tests cross-check this path
against the pure-expression path (:func:`engine.windows.featurize_expr`).

When to use which: the expression path is the default (JVM-side, no
Arrow hop); this path exists for kernels that genuinely need NumPy/SciPy
per entity (the reference's savgol/gaussian-fit analogues) and as the
semantics oracle at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from astrospectro_spark.engine.windows import featurize_expr
from astrospectro_spark.oracle.pandas_oracle import featurize_pdf


def featurize_grouped(df: DataFrame, gap_s: float = 1800.0, wide: bool = False) -> DataFrame:
    """One Arrow batch per conversation → pandas kernel → feature rows.

    The kernel re-sorts by (ts, turn_idx) internally — Spark does not
    guarantee group ordering into ``applyInPandas`` (SURVEY.md §4
    custom-work 2), so ordering is enforced where it is cheapest:
    inside the already-grouped pandas frame.

    The output schema is the expression path's own (names and types of
    :func:`engine.windows.featurize_expr` over the same input), every
    column nullable: the kernel promises no non-null column.

    Skew: a mega-conversation arrives as ONE group in ONE task. For
    skewed tables wrap with
    :func:`astrospectro_spark.engine.skew.featurize_salted` instead.
    """
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in featurize_expr(df, wide=wide).schema
    )

    def kernel(pdf):
        return featurize_pdf(pdf, gap_s=gap_s, wide=wide)

    return df.groupBy("conv_id").applyInPandas(kernel, schema=schema)
