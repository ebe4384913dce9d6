"""Similarity search over an embedding column (array<float>).

  * brute_force_topk — broadcast the (small) query set, exact cosine top-k.
    JVM-side dot products via zip_with/aggregate; one narrow stage + per-query
    top-k window. Baseline and oracle-checkable.
  * lsh_topk — random-hyperplane signatures -> bucket join -> exact rerank.
    The 100 TB path: candidates per query ~ bucket size, not corpus size.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cache import pin


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def with_cosine(df: DataFrame, a: str, b: str, out: str = "cosine") -> DataFrame:
    av = F.transform(F.col(a), lambda x: x.cast("double"))
    bv = F.transform(F.col(b), lambda x: x.cast("double"))
    return df.withColumn(out, _dot(av, bv) / (_norm(av) * _norm(bv)))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(query_id, neighbor_id, rank, cosine). Excludes self-pairs; the query
    side is broadcast (no shuffle of the corpus). The double-cast and the
    norm are hoisted to one per ROW on each join side (r7, guide §4.1/§2.3:
    per-pair work drops from three interpreted array aggregates to one dot
    + a multiply; same doubles, same fold order — cosine stays
    dot/(na*nb), bit-identical; A/B 0.73 s -> 0.52 s at sf0.1)."""
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       vd.alias("q_vec"), _norm(vd).alias("q_n"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      vd.alias("c_vec"), _norm(vd).alias("c_n"))
    joined = (c.crossJoin(F.broadcast(q))
              .filter(F.col("neighbor_id") != F.col("query_id")))
    scored = (joined.withColumn("cosine",
                                _dot(F.col("q_vec"), F.col("c_vec"))
                                / (F.col("q_n") * F.col("c_n")))
              .drop("q_vec", "c_vec", "q_n", "c_n"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("cosine", 6).alias("cosine")))


def embedding_near_dups(corpus: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= t) by
    EXHAUSTIVE all-pairs comparison — O(n^2), test-oracle/recall-baseline
    only. The scale path is embedding_near_dups_lsh (banded hyperplane
    buckets; no full-corpus broadcast, no cartesian product)."""
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
    scored = with_cosine(pairs, "va", "vb").drop("va", "vb")
    return (scored.filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", F.round("cosine", 6).alias("cosine")))


def embedding_near_dups_lsh(corpus: DataFrame, dim: int,
                            threshold: float = 0.95,
                            n_planes: int = 16, n_bands: int = 4,
                            seed: int = 42,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Near-duplicate pairs at scale: random-hyperplane LSH bands generate
    candidates (bucket self-join on (band, band_hash) — candidates per row ~
    bucket size, never the corpus), then an EXACT cosine rerank keeps pairs
    >= threshold. Output = {pairs sharing >= 1 band} ∩ {cosine >= t}: the
    rerank gives precision 1 vs the brute-force baseline; recall is the LSH
    collision probability (1 - (1 - (1-θ/π)^bits)^bands per pair — near 1 for
    genuine near-dups at high thresholds, see tests/test_ops.py recall test).
    At larger corpus sizes raise n_planes (bits per band = n_planes/n_bands
    sets the bucket count per band = 2^bits)."""
    planes = hyperplanes(dim, n_planes, seed)
    bits_per_band = n_planes // n_bands
    sigs = pin(corpus.select(F.col(id_col).alias("id"),
                             F.col(vec_col).alias("vec"),
                             lsh_signature(F.col(vec_col), planes).alias("sig")))
    banded = sigs.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright("sig", b * bits_per_band)
                      .bitwiseAND(F.lit((1 << bits_per_band) - 1)).alias("bh"))
            for b in range(n_bands)])).alias("bb")
    ).select("id", "bb.band", "bb.bh")
    # narrow dedup on ids only; vectors re-attached afterwards so the
    # distinct never shuffles the embedding arrays
    cand = (banded.alias("x").join(
                banded.alias("y"),
                (F.col("x.band") == F.col("y.band")) & (F.col("x.bh") == F.col("y.bh"))
                & (F.col("x.id") < F.col("y.id")))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct())
    # norms hoisted to one per ROW on the join sides: cosine per pair is
    # then a single dot + one multiply instead of three interpreted array
    # aggregates (same doubles, same ops — bit-identical to the oracle's
    # dot/(sqrt*sqrt); measured 3x on the rerank at sf0.1)
    vd = F.transform(F.col("vec"), lambda x: x.cast("double"))
    va = sigs.select(F.col("id").alias("id_a"), vd.alias("va"),
                     _norm(vd).alias("na"))
    vb = sigs.select(F.col("id").alias("id_b"), vd.alias("vb"),
                     _norm(vd).alias("nb"))
    scored = (cand.join(va, "id_a").join(vb, "id_b")
              .withColumn("cosine", _dot(F.col("va"), F.col("vb"))
                          / (F.col("na") * F.col("nb"))))
    return (scored.filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", F.round("cosine", 6).alias("cosine")))


def hash_centroids(corpus: DataFrame, n_cells: int,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Deterministic hash-sampled quantizer shared by ivf_topk and
    semantic_dedup: the n_cells corpus vectors ranked first by md5(id) —
    fully oracle-mirrorable, no iterative k-means state. Returned as
    (cell, c_vec); tiny, meant to be broadcast."""
    # top-K by hash via distributed TakeOrdered (orderBy+limit — no global
    # single-partition window); the row_number runs on the K-row result only
    picked = (corpus
              .withColumn("__h", F.md5(F.col(id_col).cast("string")))
              .select("__h", F.col(id_col).alias("__cid"),
                      F.col(vec_col).alias("c_vec"))
              .orderBy(F.col("__h").asc(), F.col("__cid").asc())
              .limit(n_cells))
    # pinned (K rows): callers broadcast this table more than once
    # (ivf assigns corpus AND queries; each BroadcastExchange would re-run
    # the distributed TakeOrdered over the corpus)
    return pin(picked
               .withColumn("cell", F.row_number().over(
                   Window.orderBy(F.col("__h").asc(), F.col("__cid").asc())))
               .select("cell", "c_vec"))


def kmeans_centroids(corpus: DataFrame, n_cells: int, iters: int = 3,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     seed_centroids: DataFrame | None = None) -> DataFrame:
    """Lloyd-refined spherical quantizer — the FAISS-style IVF *training*
    step (Jégou et al. 2011; public). Starts from the deterministic
    hash_centroids seed, then `iters` rounds of: assign every vector to
    its max-dot-product cell (ties → lowest cell), recompute each cell's
    centroid as the per-dimension mean of its members, L2-normalize. A
    cell that loses all members keeps its previous centroid.

    Determinism / oracle parity: per-dimension means are rounded to 9
    decimals each round (partial-agg summation order otherwise drifts
    ~1e-16/engine and the argmax cascade would amplify it); the norm is a
    sequential left fold over the dimension-ordered array, the same order
    DuckDB's list_dot_product uses, so the refined centroids are
    bit-identical across engines.

    Scale shape (100 TB): per round ONE broadcast-join assignment pass
    over the corpus + one (cell, dim) partial-agg shuffle bounded by
    n_cells x dim rows; only the K x d centroid table (collected per
    round, re-broadcast next round) ever leaves the executors — the
    classic distributed Lloyd's layout, same skeleton as
    ops/classifier.py's GD loop."""
    spark = corpus.sparkSession
    # seed_centroids: callers that already hold the pinned hash-sampled
    # quantizer (e.g. an entry running the plain-IVF mode beside the
    # refined one) pass it here instead of paying a second distributed
    # TakeOrdered over the corpus
    cents = (seed_centroids if seed_centroids is not None
             else hash_centroids(corpus, n_cells, id_col, vec_col))
    v = corpus.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"))
    # r7: the K-row centroid values are collected ONCE here (the loop body
    # used to re-collect `cents` every round to fill empty cells, one extra
    # job per round); after that the driver already holds every round's
    # values because it builds the next table itself. The centroid-side
    # double cast is also hoisted to one per CENTROID row instead of one
    # per (row, cell) pair — same doubles, bit-identical assignment.
    old = {r["cell"]: [float(x) for x in r["c_vec"]] for r in cents.collect()}
    for _ in range(int(iters)):
        cents_d = cents.select("cell", F.transform(
            F.col("c_vec"), lambda x: x.cast("double")).alias("c_vec"))
        dot = F.aggregate(
            F.zip_with(F.col("v"), F.col("c_vec"), lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x)
        assigned = (v.crossJoin(F.broadcast(cents_d))
                    .withColumn("__d", dot)
                    .groupBy("id")
                    .agg(F.min(F.struct((-F.col("__d")).alias("nd"),
                                        F.col("cell").alias("cell"))).alias("b"),
                         F.any_value("v").alias("v"))
                    .select(F.col("b.cell").alias("cell"), "v"))
        means = (assigned
                 .select("cell", F.posexplode("v").alias("pos", "val"))
                 .groupBy("cell", "pos")
                 .agg(F.round(F.avg("val"), 9).alias("m")))
        packed = (means.groupBy("cell")
                  .agg(F.array_sort(F.collect_list(
                      F.struct("pos", "m"))).alias("pm"))
                  .select("cell", F.transform("pm", lambda s: s["m"]).alias("cv0")))
        nrm = F.sqrt(F.aggregate("cv0", F.lit(0.0),
                                 lambda acc, x: acc + x * x))
        new_rows = (packed
                    .withColumn("__n", nrm)
                    .select("cell",
                            F.when(F.col("__n") > 0, F.transform(
                                "cv0", lambda x: F.round(x / F.col("__n"), 9)))
                            .alias("c_new"))
                    .collect())
        upd = {r["cell"]: [float(x) for x in r["c_new"]]
               for r in new_rows if r["c_new"] is not None}
        old = {c: upd.get(c, old[c]) for c in sorted(old)}
        rows = [(c, old[c]) for c in sorted(old)]
        cents = pin(spark.createDataFrame(rows, "cell int, c_vec array<double>"))
    return cents


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_cells: int = 16, n_probe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: DataFrame | None = None) -> DataFrame:
    """IVF-style approximate top-k: the corpus is partitioned into cells
    around deterministic centroids (hash_centroids), each vector is assigned
    to its max-dot-product cell, a query probes its n_probe best cells, and
    candidates get an exact cosine rerank.

    Scale shape: the centroid table is tiny (broadcast); assignment is a
    JVM-side broadcast join + max_by (n_cells dot products per row, one
    pass); the candidate join is an equi-join on cell — per-query work is
    ~n_probe/n_cells of the corpus, never all of it.

    `centroids`: optional pre-trained (cell, c_vec) table (e.g. from
    kmeans_centroids); defaults to the hash-sampled quantizer."""
    cents = (centroids if centroids is not None
             else hash_centroids(corpus, n_cells, id_col, vec_col))
    # centroid vectors double-cast once per CENTROID (K rows), row vectors
    # cast + norm once per ROW (r7): the assignment dot and the rerank
    # cosine then run over pre-cast arrays — same doubles, same fold
    # order, bit-identical results
    cents_d = cents.select("cell", F.transform(
        F.col("c_vec"), lambda x: x.cast("double")).alias("c_vec"))

    def assign(df, idn, keep_vec, probes):
        vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        d = df.select(F.col(id_col).alias(idn), vd.alias(f"{idn}_vec"),
                      _norm(vd).alias(f"{idn}_n"))
        scored = (d.crossJoin(F.broadcast(cents_d))
                  .withColumn("__dot", _dot(F.col(f"{idn}_vec"),
                                            F.col("c_vec")))
                  .drop("c_vec"))
        w = Window.partitionBy(idn).orderBy(F.col("__dot").desc(),
                                            F.col("cell").asc())
        out = (scored.withColumn("__cr", F.row_number().over(w))
               .filter(F.col("__cr") <= probes)
               .select(idn, f"{idn}_vec", f"{idn}_n", "cell"))
        return out if keep_vec else out.drop(f"{idn}_vec", f"{idn}_n")

    cb = assign(corpus, "neighbor_id", True, 1)
    qb = assign(queries, "query_id", True, n_probe)
    cand = (cb.join(qb, "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "query_id_vec", "query_id_n",
                    "neighbor_id", "neighbor_id_vec", "neighbor_id_n")
            .distinct())
    scored = (cand.withColumn(
                  "cosine", _dot(F.col("query_id_vec"), F.col("neighbor_id_vec"))
                  / (F.col("query_id_n") * F.col("neighbor_id_n")))
              .select("query_id", "neighbor_id", "cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("cosine", 6).alias("cosine")))


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n_planes, dim)).tolist()


def _double_sql(v) -> str:
    """One `...D` SQL literal. The SQL parser has no NaN/inf literal (repr
    would give `nanD`/`infD`, an opaque ParseException), so non-finite
    values are refused here by name."""
    v = float(v)
    if not math.isfinite(v):
        raise ValueError(f"non-finite value {v!r} cannot be a double literal")
    return f"{v!r}D"


def lit_doubles(vals: list[float]):
    """array<double> literal built in ONE py4j round-trip via F.expr.
    F.lit(list) (and F.array of F.lit) issues one JVM call per element —
    a 64-dim plane costs ~65 round-trips, a 16-plane matrix ~1100, and the
    r7 profile showed whole SECONDS of driver time spent there before any
    job ran. Python repr round-trips doubles exactly and Spark's `...D`
    literal parses back to the identical bits, so values are unchanged."""
    return F.expr("array(" + ",".join(_double_sql(v) for v in vals) + ")")


def lit_double_matrix(rows: list[list[float]]):
    """array<array<double>> literal in one py4j round-trip (see lit_doubles)."""
    return F.expr(
        "array(" + ",".join(
            "array(" + ",".join(_double_sql(v) for v in r) + ")"
            for r in rows) + ")")


def lsh_signature(vec_col, planes: list[list[float]]):
    """Bit-signature: sign of the dot product against each hyperplane.

    Built as ONE nested higher-order expression over a single 2-D plane
    literal instead of a 16-term bitwiseOR chain of per-plane dot
    subtrees (r7): constructing a HOF lambda costs ~7 ms of py4j
    round-trips, and the old form paid it 2x per plane — ~1.7 s of DRIVER
    time per signature expression before any job ran. The per-plane dot
    is the same zip_with/aggregate fold and OR-of-distinct-powers equals
    the shifted sum, so signatures are bit-identical."""
    vd = F.transform(vec_col, lambda x: x.cast("double"))
    pl = lit_double_matrix(planes)
    bits = F.transform(pl, lambda p: F.when(
        F.aggregate(F.zip_with(vd, p, lambda a, b: a * b),
                    F.lit(0.0), lambda acc, x: acc + x) > 0,
        F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")))
    powers = F.expr("array(" + ",".join(
        f"{1 << i}L" for i in range(len(planes))) + ")")  # array<long>
    shifted = F.zip_with(bits, powers, lambda b, p: b * p)
    return F.aggregate(shifted, F.lit(0).cast("long"),
                       lambda acc, x: acc.bitwiseOR(x))


def lsh_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10,
             n_planes: int = 16, n_bands: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: random-hyperplane LSH bands restrict candidates to
    shared buckets, then exact cosine rerank. Recall grows with n_bands.
    `dim` is a parameter (not inferred via an action) so operator construction
    stays lazy — no job runs until the caller executes the plan."""
    planes = hyperplanes(dim, n_planes)
    bits_per_band = n_planes // n_bands

    # cast + norm hoisted to one per ROW before the band explode (r7): the
    # rerank per candidate pair is then one dot + a multiply instead of
    # three interpreted array aggregates — same doubles, same fold order,
    # cosine stays dot/(na*nb), bit-identical
    def banded(df, idn):
        vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        sig = lsh_signature(F.col(vec_col), planes)
        d = df.select(F.col(id_col).alias(idn), vd.alias(f"{idn}_vec"),
                      _norm(vd).alias(f"{idn}_n"), sig.alias("sig"))
        return d.select(
            idn, f"{idn}_vec", f"{idn}_n",
            F.explode(F.array(*[
                F.struct(F.lit(b).alias("band"),
                         F.shiftright("sig", b * bits_per_band)
                          .bitwiseAND(F.lit((1 << bits_per_band) - 1)).alias("bh"))
                for b in range(n_bands)])).alias("bb")
        ).select(idn, f"{idn}_vec", f"{idn}_n", "bb.band", "bb.bh")

    qb = banded(queries, "query_id")
    cb = banded(corpus, "neighbor_id")
    cand = (cb.join(F.broadcast(qb), ["band", "bh"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "query_id_vec", "query_id_n",
                    "neighbor_id", "neighbor_id_vec", "neighbor_id_n")
            .distinct())
    scored = (cand.withColumn(
                  "cosine", _dot(F.col("query_id_vec"), F.col("neighbor_id_vec"))
                  / (F.col("query_id_n") * F.col("neighbor_id_n")))
              .select("query_id", "neighbor_id", "cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("cosine", 6).alias("cosine")))


# SemDeDup auto-sizing: mean cell size the auto rule targets, and the
# expected-candidate-pair bound past which an explicit n_cells warns.
SEMDEDUP_TARGET_CELL_SIZE = 4096
SEMDEDUP_MAX_EXPECTED_PAIRS = 1e12


def semantic_dedup(corpus: DataFrame, threshold: float = 0.5,
                   n_cells: int | None = None,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   target_cell_size: int = SEMDEDUP_TARGET_CELL_SIZE,
                   n_rows: int | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication"):
    cluster the embedding space, then mark within-cluster semantic
    near-duplicates — pairs whose cosine exceeds `threshold` — keeping the
    lowest-id member of each near-dup relation (keep-first policy; the
    paper keeps the member farthest from the centroid — id is the
    deterministic, oracle-mirrorable stand-in). Returns
    (vec_id, cell, is_dup): downstream drops is_dup rows.

    Clustering uses the deterministic hash-sampled quantizer
    (hash_centroids) instead of iterative k-means — same cell-bounding
    effect, zero iterative state, exactly reproducible in the DuckDB oracle.

    Scale shape (100 TB): centroids broadcast (n_cells rows); assignment is
    one corpus scan with n_cells JVM dot products per row; the pairwise
    check is ONE groupBy(cell) Arrow shuffle into a per-cell vectorized
    numpy gram product (each row crosses Arrow once, pairs never
    materialize as rows), so candidate work is sum(|cell|^2) GEMM flops,
    not |corpus|^2 — exactly the trade SemDeDup's clustering buys, in the
    matrix form the paper computes. Cosine compared on round(·, 6) so the
    Spark and oracle float paths bin boundary pairs identically.

    CELL SIZING (round-4 review — a fixed cell count is quadratic death at
    scale: expected candidate pairs ~ N^2 / n_cells, so n_cells must GROW
    with the corpus). n_cells=None (the default) auto-sizes to
    ceil(N / target_cell_size): expected pair work ~ N * target_cell_size
    (linear in the corpus) at the cost of one N-row count job (parquet
    metadata-cheap; pass `n_rows` to skip it). The recall/cost trade is
    `target_cell_size`: bigger cells = more candidate pairs checked = higher
    recall across cell boundaries but more cosine work; SemDeDup's paper
    regime is 10k-100k docs/cluster at web scale — 4096 is the conservative
    default. An EXPLICIT n_cells is honored but warns when the implied
    expected pair count N^2 / n_cells crosses SEMDEDUP_MAX_EXPECTED_PAIRS."""
    if n_rows is None:
        n_rows = corpus.count()
    if n_cells is None:
        n_cells = max(1, -(-n_rows // max(1, target_cell_size)))
    elif n_rows and (n_rows / n_cells) * n_rows > SEMDEDUP_MAX_EXPECTED_PAIRS:
        import warnings
        warnings.warn(
            f"semantic_dedup: n_cells={n_cells} over a {n_rows}-row corpus "
            f"implies ~{(n_rows / n_cells) * n_rows:.2e} expected candidate "
            f"pairs (> {SEMDEDUP_MAX_EXPECTED_PAIRS:.0e}); raise n_cells "
            f"(auto rule: ceil(N/target_cell_size) = "
            f"{-(-n_rows // max(1, target_cell_size))}) or pass "
            f"n_cells=None to auto-size", stacklevel=2)
    cents = hash_centroids(corpus, n_cells, id_col, vec_col)
    scored = (corpus.select(F.col(id_col), F.col(vec_col).alias("__vec"))
              .crossJoin(F.broadcast(cents))
              .withColumn("__dot", _dot(
                  F.transform(F.col("__vec"), lambda x: x.cast("double")),
                  F.transform(F.col("c_vec"), lambda x: x.cast("double")))))
    # argmax cell per row via groupBy + max_by, NOT a per-id window: the
    # n_cells-fold rows from the broadcast join sit in their source
    # partition, so partial aggregation collapses them map-side and the
    # exchange moves ONE row per vector (a window here would shuffle the
    # exploded n_cells x corpus). Tie on dot -> lowest cell (mirrors the
    # oracle's ORDER BY dot DESC, cell ASC).
    assigned = (scored.groupBy(id_col)
                .agg(F.max_by(
                    F.struct(F.col("__vec"), F.col("cell")),
                    F.struct(F.col("__dot"),
                             (-F.col("cell")).alias("__nc"))).alias("__m"))
                .select(id_col, F.col("__m.__vec").alias("__vec"),
                        F.col("__m.cell").alias("cell")))
    # Within-cell pair check as a per-cell BLAS matrix product (the shape
    # the SemDeDup paper actually computes): ONE groupBy(cell) shuffle
    # moves each row ONCE over Arrow, then numpy does the normalized
    # gram matrix in row blocks. The two rejected alternatives, both
    # measured at the 10x probe (20k x 64-dim, 12.5M candidate pairs):
    # the expression-tree pair join evaluates interpreted HOF cosines
    # per PAIR (40 s raw, 20 s with norms hoisted); persisting `assigned`
    # to dedup its three references demotes that join out of codegen
    # (15x slower). This path: every pair scored inside one GEMM —
    # sub-second at the same probe. Per-task memory is bounded by
    # target_cell_size x dim plus a BLOCK x cell_size score block.
    # Cosines rounded to 6 before the threshold compare, like the oracle.
    import numpy as np
    import pandas as pd

    out_fields = [assigned.schema[id_col], assigned.schema["cell"]]
    out_schema = T.StructType(out_fields
                              + [T.StructField("is_dup", T.BooleanType())])

    def _cell_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        M = np.asarray([np.asarray(v, dtype=np.float64)
                        for v in pdf["__vec"]])
        with np.errstate(divide="ignore", invalid="ignore"):
            Nrm = M / np.sqrt((M * M).sum(axis=1))[:, None]
        n = len(pdf)
        dup = np.zeros(n, dtype=bool)
        block = 1024
        for s in range(0, n, block):
            e = min(s + block, n)
            Craw = Nrm[s:e] @ Nrm.T               # (e-s, n) score block
            # half-AWAY-from-zero to 6 decimals, matching Spark F.round /
            # DuckDB round (np.round is half-to-even: a cosine landing on
            # a representable .5 at the 6th decimal would flip vs oracle)
            C = np.sign(Craw) * np.floor(np.abs(Craw) * 1e6 + 0.5) / 1e6
            hit = C >= threshold
            for i in range(s, e):
                if i > 0 and hit[i - s, :i].any():  # only EARLIER ids mark i
                    dup[i] = True
        return pd.DataFrame({id_col: pdf[id_col], "cell": pdf["cell"],
                             "is_dup": dup})

    return assigned.groupBy("cell").applyInPandas(_cell_dups,
                                                  schema=out_schema)
