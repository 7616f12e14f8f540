"""Approximate nearest neighbor via random-hyperplane LSH.

Sign-bit signatures from deterministic pseudo-random hyperplanes,
computed entirely with Catalyst expressions: hyperplane component
h[j][d] is derived from xxhash64(j, d) mapped into [-1, 1), so every
executor regenerates the same planes with no broadcast of plane
matrices and no Python in the scoring path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCALE = float(1 << 62)


def _plane_component(j: int, d: Column) -> Column:
    """Deterministic pseudo-random value in [-1, 1) for plane j, dim d."""
    return F.xxhash64(F.lit(j), d) / F.lit(_SCALE)


def _portable_plane(j: int, dim: int) -> list[float]:
    """Plane j's md5-derived components, precomputed driver-side: the
    same value DuckDB computes from ``CAST('0x' || substr(md5(j || '_'
    || d), 1, 15) AS BIGINT) / 2^59 - 1``, so the oracle-checked driver
    query reproduces every plane. hashlib.md5 yields the same hex as
    DuckDB md5, and int -> double is IEEE round-to-nearest in both
    (scaling by a power of two commutes with rounding), so the baked
    literals are bit-identical — and skip a constant md5 per ROW x
    plane x dim (measured ~2x on sim_ann at sf0.1)."""
    import hashlib

    return [
        int(hashlib.md5(f"{j}_{d}".encode()).hexdigest()[:15], 16)
        / float(1 << 59)
        - 1.0
        for d in range(dim)
    ]


def _signature(
    vec: Column, n_planes: int, portable: bool = False, dim: int | None = None
) -> Column:
    """Bit i = sign of <vec, plane_i>; 0..2^n_planes-1 as bigint.

    The portable path (md5 planes baked in for ``dim`` dimensions)
    assembles ONE parsed SQL expression for the whole signature: the
    Column-object form spent ~1s of driver time on py4j round-trips
    (n_planes x dim F.lit calls alone) before anything ran. repr()
    literals with the D suffix round-trip to the identical doubles.
    That path reads the ``embedding`` column by name (its only call
    site); the generic-Column ``vec`` parameter serves the xxhash64
    branch."""
    if portable:
        terms = []
        for j in range(n_planes):
            arr = ", ".join(f"{w!r}D" for w in _portable_plane(j, dim))
            fold = (
                f"round(aggregate(zip_with(array({arr}), embedding,"
                " (w, x) -> CAST(x AS DOUBLE) * w), 0.0D,"
                " (acc, v) -> acc + v), 6)"
            )
            terms.append(
                f"(shiftleft(CASE WHEN {fold} >= 0 THEN 1L ELSE 0L END, {j}))"
            )
        # the 6-dp round before the sign test matches the score-column
        # policy: Spark folds in array order while SQL SUM order is
        # unspecified, so an unrounded dot within an ulp of zero could
        # flip a bit across engines
        return F.expr(" | ".join(terms))
    sig = None
    for j in range(n_planes):
        prods = F.zip_with(
            vec,
            F.sequence(F.lit(0), F.size(vec) - 1),
            lambda x, d: x.cast("double") * _plane_component(j, d),
        )
        dot_j = F.aggregate(
            prods,
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = F.when(dot_j >= 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        term = F.shiftleft(bit, j)
        sig = term if sig is None else sig.bitwiseOR(term)
    return sig


def dot(a: str | Column, b: str | Column) -> Column:
    """Double-precision left-fold dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: str | Column) -> Column:
    return F.sqrt(dot(a, a))


def lsh_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_planes: int = 16,
    max_hamming: int = 4,
    portable: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Top-k by cosine among LSH candidates (multi-probe by hamming).

    Plan: signature projection (narrow) -> broadcast the single query
    signature -> hamming filter prunes the corpus -> exact cosine on
    survivors -> global top-k. No shuffle of the corpus at any point.
    ``portable=True`` switches the plane hash to the md5-derived,
    SQL-reproducible family (the oracle path), baked in as literals for
    the ``dim``-wide embeddings it requires.
    """
    if portable and dim is None:
        raise ValueError("lsh_topk(portable=True) needs the embedding dim")
    # NOT spread (round-15 re-adjudication): round 14 added
    # catalog.spread before the signature projection; the driver's
    # PERF_r14 regressed sim_ann 0.81x and a clean interleaved toggle
    # this round confirmed spread LOSES ~1.4x here even after
    # normalizing by the untouched control — the probe+round-robin
    # exchange costs more than the fold parallelism it buys on this
    # small embedding table (the corpus is never shuffled by the query
    # itself, so the spread exchange was the plan's only corpus-wide
    # data movement).
    sig = embeddings.withColumn(
        "sig", _signature(F.col("embedding"), n_planes, portable, dim)
    )
    q = sig.filter(F.col("vec_id") == query_vec_id).select(
        F.col("sig").alias("qsig"), F.col("embedding").alias("qv")
    )
    hamming = F.bit_count(F.expr("sig ^ qsig"))
    cand = (
        sig.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
    )
    scored = cand.select(
        "vec_id",
        "hamming",
        F.round(dot("embedding", "qv") / (norm("embedding") * norm("qv")), 6).alias(
            "score"
        ),
    )
    # TakeOrderedAndProject, not a global window (see sim_topk)
    return (
        scored.orderBy(F.col("score").desc(), "vec_id")
        .limit(k)
        .select("vec_id", "score", "hamming")
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_probe_cells: int = 3,
) -> DataFrame:
    """IVF-style ANN: coarse cells -> probe nearest cells -> exact
    re-score of cell members only.

    Inverted-file structure, Spark-first: the cell assignment is the
    `label` column (a full build would k-means it — same plan shape);
    centroids are one aggregate over position-exploded vectors (tiny:
    cells x dims rows); cell probing is a broadcast of ONE row per
    probed cell; the corpus is then scanned once with a broadcast
    semi-join membership filter. At 100 TB only nprobe/ncells of the
    corpus is scored — the classic IVF recall/cost dial.
    """
    # NOT spread (round-15 re-adjudication — see lsh_topk above): the
    # clean toggle read spread losing ~1.7x control-adjusted on
    # sim_ann_ivf, and the driver's PERF_r14 regressed it; the centroid
    # aggregate shuffles by (label, pos) right after, so the
    # round-robin exchange bought nothing the aggregate's own exchange
    # doesn't already provide.
    pos = embeddings.select("label", F.posexplode("embedding").alias("pos", "v"))
    centroids = (
        pos.groupBy("label", "pos")
        .agg(F.avg("v").alias("cv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"],
            ).alias("centroid")
        )
    )
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv")
    )
    probe = (
        centroids.crossJoin(F.broadcast(q))
        .select(
            "label",
            # rounded before ranking: centroid components are float
            # AVERAGES, whose summation order differs across engines;
            # the 6-dp grain absorbs the ulp spread so the probed cell
            # set is deterministic (same policy as the score columns)
            F.round(
                dot("centroid", "qv") / (norm("centroid") * norm("qv")), 6
            ).alias("csim"),
        )
        .orderBy(F.col("csim").desc(), "label")
        .limit(n_probe_cells)
        .select("label")
    )
    cand = (
        embeddings.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(probe), "label", "left_semi")
        .crossJoin(F.broadcast(q))
    )
    scored = cand.select(
        "vec_id",
        "label",
        F.round(dot("embedding", "qv") / (norm("embedding") * norm("qv")), 6).alias(
            "score"
        ),
    )
    return (
        scored.orderBy(F.col("score").desc(), "vec_id")
        .limit(k)
        .select("vec_id", "label", "score")
    )
