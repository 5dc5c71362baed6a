"""Similarity search over an embedding column (``array<float>``).

- :func:`cosine_topk` — brute-force cosine top-k: exact baseline.
  Dot products run as JVM expressions (``aggregate``/``zip_with`` over
  the arrays, double accumulation) inside a broadcast nested-loop join
  of the (small) query set against the corpus — no Python, no UDF.
- :func:`lsh_cosine_topk` — the scale path: random-hyperplane LSH.
  Each vector gets a ``n_planes``-bit signature against Rademacher
  (±1) hyperplanes derived from md5 parity — deterministic, no stored
  model, and embedded as LITERAL arrays in the plan so the DuckDB
  oracle carries the identical planes; candidates share a signature
  bucket (multi-probe over ``n_tables`` independent tables), exact
  cosine re-ranks inside buckets. At 10^9 vectors the bucket join
  replaces the O(n·q) cross product.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from astrospectro_spark.functions.dedup import attach_ends, bucket_pairs


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_sim(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbours of each query vector (self
    excluded). Queries broadcast; corpus scanned once."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine_sim(F.col("qv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


@lru_cache(maxsize=None)  # default config needs n_tables*n_planes=32 entries
def rademacher_plane(table: int, plane: int, dim: int) -> tuple[float, ...]:
    """Deterministic ±1 hyperplane: component j is +1 when the first
    md5 hex digit of ``"{table}_{plane}_{j}"`` is odd. Pure-Python (one
    md5 per component, computed once per process) — the DuckDB oracle
    embeds the SAME literal array, so signatures agree bit-for-bit."""
    return tuple(
        1.0 if int(hashlib.md5(f"{table}_{plane}_{j}".encode()).hexdigest()[0], 16) % 2
        else -1.0
        for j in range(dim)
    )


def _signature(vec: Column, n_planes: int, table: int, dim: int) -> Column:
    """Random-hyperplane signature over literal Rademacher planes.
    The sign test uses round(proj, 6): both engines round the projection
    to the same grid before comparing against 0, so a last-ulp
    summation difference cannot flip a bucket bit."""
    bits = []
    for p in range(n_planes):
        comp = F.array(*[F.lit(v) for v in rademacher_plane(table, p, dim)])
        proj = F.aggregate(
            F.zip_with(vec, comp, lambda x, c: x.cast("double") * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(
            F.when(F.round(proj, 6) >= 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
                F.lit(0).cast("long")
            )
        )
    sig = bits[0]
    for b in bits[1:]:
        sig = sig.bitwiseOR(b)
    return sig


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in at least one
    of ``n_tables`` hyperplane tables; exact cosine re-ranks candidates.

    ``multiprobe`` also probes every Hamming-distance-1 bucket on the
    QUERY side (sig XOR one flipped plane bit): 1+n_planes probes per
    (query, table) instead of more tables — recall rises at the cost of
    a small bounded fan-out of the tiny query side, while the corpus
    keeps exactly one bucket row per table (the side that matters at
    10^9 vectors)."""
    def with_sigs(df, idname, probe):
        out = df.select(F.col(id_col).alias(idname), F.col(vec_col).alias(f"{idname}_v"))
        def probes(sig):
            if not probe:
                return [sig]
            return [sig] + [sig.bitwiseXOR(F.lit(1 << p).cast("long")) for p in range(n_planes)]

        sigs = F.array(
            *[
                F.struct(F.lit(t).alias("table"), s.alias("sig"))
                for t in range(n_tables)
                for s in probes(_signature(F.col(f"{idname}_v"), n_planes, t, dim))
            ]
        )
        return out.withColumn("b", F.explode(sigs)).select(
            idname, f"{idname}_v", "b.table", "b.sig"
        )

    qs = with_sigs(queries, "query_id", multiprobe)
    cs = with_sigs(corpus, "cand_id", False)
    cand = (
        cs.join(qs, ["table", "sig"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "cand_id"])
        .withColumn(
            "cosine", F.round(cosine_sim(F.col("query_id_v"), F.col("cand_id_v")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Bucketed embedding near-duplicate pairs (``id_a < id_b``,
    ``cosine >= threshold``) — the at-scale sibling of the brute-force
    all-pairs tier (``queries.q_embedding_neardup``).

    Candidates must share a random-hyperplane bucket in at least one of
    ``n_tables`` tables; exact cosine then verifies, so precision is
    exact and only recall is approximate (byte-identical vectors hash
    to identical signatures in every table — guaranteed recall for
    exact copies; near-copies miss only when noise flips a
    near-zero-projection sign bit in all tables).

    Scale shape mirrors :func:`~astrospectro_spark.functions.dedup.
    minhash_lsh_candidates`, with the same two steps
    (:func:`~astrospectro_spark.functions.dedup.bucket_pairs` and
    :func:`~astrospectro_spark.functions.dedup.attach_ends`): the
    self-join shuffles ONLY ``(table, sig, id)`` — 3 longs per row per
    table — and the wide vectors are re-attached to the deduplicated
    candidate pairs afterwards, through one join of the pair ends. At
    10^9 vectors the bucket exchange stays ~100 GB while a
    vector-carrying join would be tens of TB.
    """
    sigs = df.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table"),
                        _signature(F.col(vec_col), n_planes, t, dim).alias("sig"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("b"),
    ).select(id_col, "b.table", "b.sig")
    cand = attach_ends(bucket_pairs(sigs, id_col, ["table", "sig"]), df, id_col, vec_col)
    return (
        cand.withColumn("cosine", F.round(cosine_sim(F.col("v_a"), F.col("v_b")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
