"""Similarity search over embedding columns — [extension].

Approximate-nearest-neighbor surface over an ``array<float>`` column:

* ``cosine_topk``       — brute-force exact top-k: broadcast the (small)
                          query set against the corpus, score JVM-side,
                          per-query heap via window row_number.  The
                          baseline and the ground truth for recall tests.
* ``cosine_pairs``      — EXACT all-pairs ≥ threshold via block-
                          partitioned equi-join (no corpus broadcast —
                          the scalable way to do an exact N² scan).
* ``cosine_pairs_lsh``  — sign-LSH (random-hyperplane) banding + exact
                          cosine verification of candidates only: the
                          block-then-verify scale path, same shape as
                          dedup.minhash_lsh_pairs.
* ``ivf_topk``          — IVF-style scale path: Lloyd-trained centroids,
                          shuffle-free cell assignment (broadcast-
                          centroid argmax as a pure column expression);
                          queries probe only the ``nprobe`` closest
                          cells, turning O(N·Q) into O(N·Q·nprobe/C).

Scoring uses functions.vectors (zip_with/aggregate in double) — no
Python, bit-reproducible against DuckDB's list_dot_product.

At 100 TB the brute-force top-k path is per-partition parallel with no
shuffle on the corpus side (queries broadcast); ``cosine_pairs``
replicates each side ~G/2× across G(G+1)/2 block-pair join keys
(G ≈ √(2·parallelism)) instead of broadcasting the corpus into every
task; the IVF path assigns cells without any Exchange and amortizes
one tiny training job across all queries against the index.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from another_map_reduce_spark.operators.dedup import bands_from_signature
from another_map_reduce_spark.storeops import (
    read_member,
    read_table,
    reset_table,
    resolve_table,
)

from another_map_reduce_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine, excluding self.

    Output: (qid, cid, cos, rank), rank 1..k, ties broken by cid
    (deterministic; with double-precision scores ties are theoretical).
    """
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            cosine_similarity(F.col("qvec"), F.col("cvec")).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .orderBy("qid", "rank")
    )


def cosine_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int | None = None,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — exact, block-partitioned.

    An exact all-pairs scan is inherently O(N²) compute, but it need
    not be a cartesian BroadcastNestedLoop (which ships the whole
    corpus into every task and OOMs at scale).  Standard block
    triangulation instead: rows are hashed into G blocks; every
    unordered block pair (i ≤ j) is a join key; the left role covers
    keys (g, j≥g), the right role keys (i≤g, g).  Each row is
    replicated ~(G+1)/2× per side, the join is a plain shuffled
    equi-join on (bg1, bg2) with G(G+1)/2 keys of uniform size, and
    per-task memory is bounded by two blocks — horizontal scale with
    no broadcast.  G defaults to √(2·defaultParallelism) so key count
    ≳ core count.

    Same-block pairs are deduplicated by id order; cross-block pairs
    appear exactly once (the lower block takes the left role).  The
    pair ids are normalized to v1 < v2; ``cos`` is bit-identical in
    either orientation (per-element products commute, summation stays
    in index order).
    """
    spark = corpus.sparkSession
    if num_blocks is None:
        num_blocks = max(2, math.ceil(math.sqrt(2 * spark.sparkContext.defaultParallelism)))
    G = num_blocks
    base = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.hash(F.col(id_col)), F.lit(G)).alias("g"),
    )
    left = base.select(
        F.col("vid").alias("ida"),
        F.col("vec").alias("ea"),
        F.col("g").alias("bg1"),
        F.explode(F.sequence(F.col("g"), F.lit(G - 1))).alias("bg2"),
    )
    right = base.select(
        F.col("vid").alias("idb"),
        F.col("vec").alias("eb"),
        F.explode(F.sequence(F.lit(0), F.col("g"))).alias("bg1"),
        F.col("g").alias("bg2"),
    )
    cand = left.join(right, ["bg1", "bg2"]).where(
        (F.col("bg1") != F.col("bg2")) | (F.col("ida") < F.col("idb"))
    )
    return (
        cand.select(
            F.least("ida", "idb").alias("v1"),
            F.greatest("ida", "idb").alias("v2"),
            cosine_similarity(F.col("ea"), F.col("eb")).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
        .orderBy("v1", "v2")
    )


# ---------------------------------------------------------------------------
# Sign-LSH (random hyperplane) blocking
# ---------------------------------------------------------------------------


def signlsh_bands(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bands: int,
    rows_per_band: int,
) -> DataFrame:
    """(id, band, sig) — banded random-hyperplane signatures.

    Charikar sign-LSH: bit p of a vector is the sign of its dot product
    with Rademacher hyperplane p.  P(bit agrees) = 1 − θ/π for a pair
    at angle θ, so a band of r bits matches with (1−θ/π)^r and
    ``bands`` bands catch a pair w.p. 1 − (1 − (1−θ/π)^r)^bands.

    The nbits×dim projection is dense linear algebra — the one place
    in this module where an Arrow-vectorized Pandas UDF beats column
    expressions outright: one numpy matmul per batch versus nbits·dim
    interpreted lambda evaluations per row (~8k for 128 bits × 64
    dims; measured 3.2 s → sub-second at sf0.1).  Bit SIGNS only gate
    candidate generation (verification is exact JVM cosine), so the
    float-summation-order difference between numpy and a sequential
    fold cannot change the verified output, only nudge the ~1e-13
    miss probability.  Planes are Rademacher ±1 regenerated inside
    each worker from a fixed numpy seed + the vector dimensionality —
    deterministic across workers and retries, no stored matrix.

    The bit vector is materialised behind a repartition barrier before
    band-slicing (Catalyst has no let-binding — without the exchange,
    the band slices would re-trigger the UDF column ×bands).  The
    first barrier also spreads a single-split corpus across cores; the
    staged shuffles carry (id, vec) and then (id, nbits bits) — skinny.
    """
    from pyspark.sql.functions import pandas_udf

    nbits = bands * rows_per_band
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    spread = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("_v")
    ).repartition(par)

    @pandas_udf("array<int>")
    def _sign_bits(emb: pd.Series) -> pd.Series:
        if emb.empty:
            return pd.Series([], dtype=object)
        m = np.stack(emb.to_numpy()).astype(np.float64)  # batch × dim
        rng = np.random.RandomState(0x5EED ^ m.shape[1])
        planes = rng.randint(0, 2, (nbits, m.shape[1])) * 2 - 1  # ±1
        bits = (m @ planes.T > 0).astype(np.int32)
        return pd.Series(list(bits))

    # the bit vector takes the signature column name the banding reads
    staged = spread.select(
        "id", _sign_bits(F.col("_v")).alias("mh")
    ).repartition(par)
    return bands_from_signature(staged, nbits, bands, doc_col="id")


def cosine_pairs_lsh(
    corpus: DataFrame,
    threshold: float,
    bands: int = 64,
    rows_per_band: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-pairs by sign-LSH banding + exact-cosine verification.

    Block-then-verify, the same shape as dedup.minhash_lsh_pairs and
    banded by the same step (``dedup.bands_from_signature`` over the
    sign bits): candidates come from ``bands`` equi-joins on (band,
    sig) carrying ONLY (id, band, sig) — the embedding vectors are
    joined back once per side after candidate dedup, so the banded
    shuffle never replicates vector payloads.  Every candidate is verified with the
    exact double-precision cosine, so the output is a subset of
    ``cosine_pairs`` — missing a pair only when all bands miss.

    Tuning (p_bit = 1 − arccos(cos)/π): with bands=64, r=2 a pair at
    cos 0.3 has p_bit=.597 and miss probability (1−.597²)^64 ≈ 6e-13 —
    recall is statistically certain at any threshold ≥ 0.3.  The
    pruning power, however, depends on the data having near-dup
    structure: on an isotropic corpus (all pairs near cos 0, p_band
    .25) most pairs collide in some band and the operator degrades to
    a distributed equi-join all-pairs scan; on clustered corpora the
    bucket joins touch only plausible pairs (see
    tests/test_similarity.py planted-cluster pruning test).  For
    aggressive pruning at high thresholds use wider bands
    (rows_per_band 4–8).
    """
    ids = signlsh_bands(corpus, id_col, vec_col, bands, rows_per_band)
    a = ids.alias("a")
    # Join strategy is left to AQE: the banded/vector sides are
    # corpus-scale, but runtime size stats keep them off the broadcast
    # side once they outgrow the threshold, and at the small end the
    # broadcast IS the right plan (forcing shuffle_hash here measured
    # +2.5 s at sf0.1 — unlike the dedup band join, where the hint
    # won; see minhash_lsh_pairs for the contrast).
    b = ids.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("v1"), F.col("b.id").alias("v2"))
        .dropDuplicates(["v1", "v2"])
    )
    vecs = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    e1 = vecs.select(F.col("vid").alias("v1"), F.col("vec").alias("e1"))
    e2 = vecs.select(F.col("vid").alias("v2"), F.col("vec").alias("e2"))
    return (
        cand.join(e1, "v1")
        .join(e2, "v2")
        .select(
            "v1", "v2", cosine_similarity(F.col("e1"), F.col("e2")).alias("cos")
        )
        .where(F.col("cos") >= threshold)
        .orderBy("v1", "v2")
    )


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------


def _lit_vec(vals: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vals])


def _lit_matrix(rows: list[list[float]]) -> Column:
    """Constant array<array<double>> via ONE parsed SQL expression.

    Building a literal matrix element-by-element with F.lit costs one
    py4j round-trip per element (measured ~6 s for 128×64 — it
    dominated the whole operator); a single F.expr parse is ~50×
    cheaper.  repr(float) round-trips doubles exactly.
    """
    body = ",".join(
        "array(" + ",".join(f"CAST({v!r} AS DOUBLE)" for v in row) + ")"
        for row in rows
    )
    return F.expr(f"array({body})")


def _cell_scores(vec: Column, centroids: list[list[float]]) -> Column:
    """array<struct<s: score, nj: −cell_index>> — one struct per cell.

    Cosine argmax over cells ≡ dot-product argmax against UNIT-norm
    centroids (the row's own norm is a positive constant across cells),
    so centroids are normalized driver-side and each cell costs one
    zip_with/aggregate fold instead of three.  Struct ordering makes
    array_max pick the best cell with ties going to the LOWEST index
    (nj = −index, larger nj wins a tie), purely JVM-side — no window,
    no shuffle.
    """
    unit = []
    for c in centroids:
        n = math.sqrt(sum(x * x for x in c)) or 1.0
        unit.append([x / n for x in c])
    # One constant 2-D array + a single nested-lambda transform keeps
    # the expression tree O(1) in num_cells (a per-cell expression
    # forest made py4j literal construction the dominant cost).
    cents_lit = _lit_matrix(unit)
    dv = F.transform(vec, lambda x: x.cast("double"))
    return F.transform(
        cents_lit,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(dv, c, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("s"),
            (-i).alias("nj"),
        ),
    )


_EXPR_CELLS_MAX = 32


def _unit_rows(centroids: list[list[float]]) -> list[list[float]]:
    unit = []
    for c in centroids:
        n = math.sqrt(sum(x * x for x in c)) or 1.0
        unit.append([x / n for x in c])
    return unit


def top_cells(vec: Column, centroids: list[list[float]], nprobe: int) -> Column:
    """``array<int>`` of the ``nprobe`` best cells for ``vec``, best
    first — cosine argmax ≡ dot-product argmax against unit-norm
    centroids, ties to the lowest cell index.

    Two physical strategies, one semantics:

    * ≤ ``_EXPR_CELLS_MAX`` cells — pure column expression (array_sort
      over (score, −idx) structs): bit-deterministic JVM fold, zero
      Python.  The path every oracle-hashed query runs.
    * above it — Arrow-batched numpy matmul, (batch×dim) @ (dim×cells),
      argpartition + stable two-key sort.  Real IVF cell counts are
      thousands-to-millions, where an O(cells) expression TREE is the
      wrong tool: the 240-cell 30× index build measured 75 s on the
      expression path vs 2.9 s on the matmul path
      (BENCH_SCALE_r7ann.json) — the same sign-LSH lesson, dense
      linear algebra belongs in numpy.  Used by assignment and probe
      TOGETHER, so index and query always agree on geometry.
    """
    if len(centroids) <= _EXPR_CELLS_MAX:
        scores = F.slice(
            F.reverse(F.array_sort(_cell_scores(vec, centroids))), 1, nprobe
        )
        return F.transform(scores, lambda s: (-s.getField("nj")).cast("int"))

    from pyspark.sql.functions import pandas_udf

    C = np.array(_unit_rows(centroids), dtype=np.float64)  # cells × dim
    k = min(nprobe, C.shape[0])

    @pandas_udf("array<int>")
    def _top(emb: pd.Series) -> pd.Series:
        if emb.empty:
            return pd.Series([], dtype=object)
        V = np.stack(emb.to_numpy()).astype(np.float64)
        S = V @ C.T  # batch × cells
        if k >= S.shape[1]:
            idx = np.tile(np.arange(S.shape[1]), (S.shape[0], 1))
        else:
            idx = np.argpartition(-S, k - 1, axis=1)[:, :k]
        sc = np.take_along_axis(S, idx, 1)
        # deterministic (score desc, idx asc): pre-sort by idx, then
        # stable sort by -score so equal scores keep the lower index
        o1 = np.argsort(idx, axis=1, kind="stable")
        idx, sc = np.take_along_axis(idx, o1, 1), np.take_along_axis(sc, o1, 1)
        o2 = np.argsort(-sc, axis=1, kind="stable")
        idx = np.take_along_axis(idx, o2, 1)
        return pd.Series([row.tolist() for row in idx.astype(np.int32)])

    return _top(vec)


def train_centroids(
    corpus: DataFrame,
    num_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
    train_mod: int = 1,
) -> list[list[float]]:
    """Deterministic Lloyd-refined centroids for the IVF index.

    Init = the ``num_cells`` lowest-id vectors (reproducible, no RNG),
    then ``iters`` Lloyd steps: assign each (sampled) vector to its
    best cell with the shuffle-free argmax expression, average per
    (cell, dimension) with DECIMAL(38,12) sums so the means are
    bit-deterministic regardless of partitioning, keep the old
    centroid for any emptied cell.

    ``train_mod`` > 1 trains on the deterministic 1/train_mod slice
    ``pmod(xxhash64(id), train_mod) = 0`` — at 100 TB you train the
    index on a sample and assign the full corpus with the closed-form
    expression; the per-iteration shuffle is sample_size × dim skinny
    rows, and the collected model is num_cells × dim floats (tiny).
    """
    base = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    sample = (
        base
        if train_mod <= 1
        else base.where(F.pmod(F.xxhash64("vid"), F.lit(train_mod)) == 0)
    )
    init_rows = base.orderBy("vid").limit(num_cells).collect()
    cents = [[float(x) for x in r.vec] for r in init_rows]
    if iters <= 0:
        return cents
    # The sample is rescanned once per Lloyd step: spread it across
    # cores (a small single-file corpus is one scan split) and cache it
    # for the loop.  Training is an index-build job — this exchange is
    # amortized across every query against the index.
    par = corpus.sparkSession.sparkContext.defaultParallelism
    sample = sample.repartition(par).persist()
    try:
        for _ in range(iters):
            assigned = sample.select(
                "vec",
                F.element_at(top_cells(F.col("vec"), cents, 1), 1).alias("cell"),
            )
            stats = (
                assigned.select("cell", F.posexplode("vec").alias("d", "x"))
                .groupBy("cell", "d")
                .agg(
                    F.sum(F.col("x").cast("decimal(38,12)")).alias("sx"),
                    F.count("*").alias("n"),
                )
                .collect()
            )
            new_cents = [list(c) for c in cents]
            by_cell: dict[int, dict[int, float]] = {}
            for r in stats:
                by_cell.setdefault(int(r.cell), {})[int(r.d)] = float(r.sx) / r.n
            for cell, dims in by_cell.items():
                new_cents[cell] = [dims[d] for d in sorted(dims)]
            cents = new_cents
    finally:
        sample.unpersist()
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 2,
    train_mod: int = 1,
) -> DataFrame:
    """IVF approximate top-k with trained centroids.

    Cell assignment is a pure column expression over the (collected,
    tiny) centroid model: argmax of ``num_cells`` cosine scores via
    array_max over (score, −index) structs — NO window, NO Exchange on
    the corpus side.  Each corpus vector lands in exactly one cell, so
    the probe join needs no candidate dedup; queries explode to their
    ``nprobe`` best cells and broadcast onto the corpus.
    """
    cents = train_centroids(
        corpus, num_cells, id_col, vec_col, iters=train_iters, train_mod=train_mod
    )
    # Cell assignment adds NO exchange: it is a projection over the
    # scan.  A small single-file corpus arrives as one split, so stage
    # the scan across cores first (same round-robin staging as
    # dedup.shingle_docs); at real scale the scan's own splits already
    # exceed the core count and this branch is a no-op.
    par = corpus.sparkSession.sparkContext.defaultParallelism
    staged = corpus
    if staged.rdd.getNumPartitions() < par:
        staged = staged.repartition(par)
    c = staged.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cvec"),
        F.element_at(top_cells(F.col(vec_col), cents, 1), 1).alias("cell"),
    )
    # top-nprobe cells per query — same helper (and thus the same
    # expression-vs-matmul strategy) as the corpus assignment.
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        F.explode(top_cells(F.col(vec_col), cents, nprobe)).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .where(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            cosine_similarity(F.col("qvec"), F.col("cvec")).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .orderBy("qid", "rank")
    )


# The default-recall probe contract (r8, promoting the r7 SCALE.md
# finding): a FIXED nprobe probes a shrinking fraction of the corpus
# as cells grow with the corpus (constant inverted-list size), so its
# recall decays — measured 0.49 → 0.17 at 1×→10× on the isotropic
# synthetic corpus.  Probing a constant FRACTION of the cells makes
# the probed-corpus share scale-invariant, and recall holds ~flat at
# the level the fraction buys (tools/bench_scale_ann.py measures both
# regimes; tests/test_similarity.py pins the floor).  0.5 is the
# isotropic-worst-case setting: clustered real embeddings concentrate
# neighbors in the query's nearest cells and reach the same recall at
# far smaller fractions — tune DOWN per corpus, never below 2 cells.
NPROBE_FRACTION = 0.5


def proportional_nprobe(num_cells: int, fraction: float = NPROBE_FRACTION) -> int:
    """nprobe ∝ cells — the scale-invariant-recall probe width."""
    return max(2, int(num_cells * fraction))


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    num_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 2,
    train_mod: int = 1,
) -> None:
    """Train and PERSIST the IVF index — the stored artifact that gives
    ANN the same incremental story as dedup's ``lsh_band_index``.

    Two parquet tables under ``path``:

    * ``centroids`` — (cell, centroid: array<double>), the collected
      model (num_cells × dim floats — always tiny).
    * ``postings``  — (cell, cid, cvec), the inverted lists, written
      ``partitionBy("cell")`` so a probe at nprobe < num_cells reads
      ONLY its cells' files (partition pruning on the probe scan) —
      at 100 TB this is the difference between touching nprobe/C of
      the index and re-scanning all of it.

    Build cost is one corpus scan (assignment is the shuffle-free
    argmax projection) plus the sample-sized Lloyd iterations; every
    later batch of query vectors probes the stored index with NO
    retraining and NO corpus access — ``ivf_probe_topk``.
    """
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    # A from-scratch rebuild writes the legacy postings directory; a
    # pointer left by a previous build's compaction would shadow it.
    reset_table(f"{path}/postings")
    cents = train_centroids(
        corpus, num_cells, id_col, vec_col, iters=train_iters, train_mod=train_mod
    )
    # The model is DRIVER-side data (num_cells × dim floats); write it
    # with pyarrow directly — a Spark job for 8 rows costs ~5 s of pure
    # scheduling overhead and buys nothing (measured; the read side is
    # ordinary parquet either way).  CONSTRAINT: this makes `path`
    # local-filesystem-only — the pyarrow half and Spark's Hadoop half
    # must land on the SAME filesystem, and pyarrow here writes through
    # the local FS.  For an hdfs://`/s3:// index root, swap this write
    # for `spark.createDataFrame(...).coalesce(1).write.parquet(...)`
    # (paying the scheduling overhead once per build) or a pyarrow
    # filesystem handle; the on-disk layout is identical either way.
    # Recreate the directory so a re-build with different num_cells
    # can't leave stale part files beside the new model
    # (overwrite-in-place contract).
    shutil.rmtree(f"{path}/centroids", ignore_errors=True)
    os.makedirs(f"{path}/centroids", exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "cell": pa.array(range(len(cents)), pa.int32()),
                "centroid": pa.array(cents, pa.list_(pa.float64())),
            }
        ),
        f"{path}/centroids/part-0.parquet",
    )
    postings = corpus.select(
        F.element_at(top_cells(F.col(vec_col), cents, 1), 1).alias("cell"),
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cvec"),
        # Per-vector L2 norm, precomputed ONCE at index-build time so a
        # probe's pair scoring is a single dot fold instead of three
        # (dot + both norms): at sf1 the norm folds were 2/3 of the
        # probe's work — 36 M pairs × 2 redundant 64-element folds
        # (r11 verdict).  Bit-exact vs any sqrt(list_dot_product)
        # oracle: same in-order fold, same IEEE sqrt.
        l2_norm(F.col(vec_col)).alias("cnorm"),
    )
    # Cluster rows by cell before the partitioned write: one file per
    # cell directory instead of (input partitions × cells) shards —
    # at 100 TB this is the difference between nprobe/C file reads and
    # nprobe/C directories of tiny fragments.
    postings.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{path}/postings")


# Per-cell preselection slack for the blocked-matmul scorer: the
# numpy block scores differ from the exact in-order fold by ~1e-15
# relative, so the exact global top-k is guaranteed to sit inside each
# cell's approximate top-(k + slack) unless k+slack candidates are
# packed within float-noise of the rank-k score.  Ties are safe since
# r13: the cut is a STABLE argsort over cid-ordered columns (exact
# EQUALITY at the boundary breaks by ascending cid, deterministically
# — the pre-r13 argpartition cut chose among exact ties arbitrarily),
# and the final rank breaks on ascending cid too.  The remaining —
# documented — approximation is slack exhaustion: >slack candidates
# strictly between the approximate and exact rank-k scores.
_MATMUL_SLACK = 10


def ivf_probe_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scorer: str = "expr",
) -> DataFrame:
    """Top-k neighbors of NEW query vectors against a STORED IVF index
    (``build_ivf_index``) — no retraining, no corpus scan.

    The centroid model is read back (collect is num_cells × dim — the
    model, not data), each query expression-side picks its ``nprobe``
    best cells, and the cell-partitioned postings are probed with a
    broadcast join whose ``cell`` equi-key prunes the postings scan to
    the probed partitions.  Final scoring is always the
    bit-reproducible double cosine fold over the STORED per-vector
    norms (``cnorm`` written at build/append time; computed on the fly
    for pre-r12 indexes), so at nprobe = num_cells the result is
    EXACTLY the brute-force top-k (every posting lives in one cell) —
    the oracle-provable regime — while nprobe < num_cells is the
    approximate daily-driver regime.

    Two physical ``scorer`` strategies, one output:

    * ``"expr"`` — each candidate pair scored with the JVM dot fold
      divided by the stored norms.  One fold per pair (the r11 plan
      paid three — both norms were re-folded per pair); right while
      candidate pairs stay modest.
    * ``"matmul"`` — the FAISS-IVF shape for large candidate sets:
      postings and probes are COGROUPED by cell and each cell block
      is scored as ONE Arrow-batched numpy matmul
      ((queries×dim) @ (dim×postings), norms divided out), emitting
      only each query's per-cell top-(k+slack) candidates — candidate
      PAIRS never materialize in the plan, so the 36 M-pair sf1 probe
      that took 264 s on the fold path becomes a ~10 MB Arrow
      transfer.  Survivors are re-scored with the exact fold, so the
      output is bit-identical to ``"expr"`` (the preselection margin
      argument above; pytest-pinned equality at fixture scale and
      hash-proven at sf0.01 by ann_ivf_incremental's driver row).
    """
    cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    cents = [[float(x) for x in r.centroid] for r in cent_rows]
    postings = read_table(spark, f"{path}/postings", id_col="cid")
    if "cnorm" not in postings.columns:
        postings = postings.withColumn("cnorm", l2_norm(F.col("cvec")))
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qnorm"),
        F.explode(top_cells(F.col(vec_col), cents, nprobe)).alias("cell"),
    )
    exact_cos = (
        dot_product(F.col("qvec"), F.col("cvec"))
        / (F.col("qnorm") * F.col("cnorm"))
    ).alias("cos")
    if scorer == "matmul":
        take = k + _MATMUL_SLACK

        def _block(pdf_post: pd.DataFrame, pdf_q: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame(
                {"qid": pd.Series([], dtype="int64"),
                 "cid": pd.Series([], dtype="int64"),
                 "cvec": pd.Series([], dtype=object),
                 "cnorm": pd.Series([], dtype="float64")}
            )
            if pdf_post.empty or pdf_q.empty:
                return empty
            P = np.stack(pdf_post["cvec"].to_numpy()).astype(np.float64)
            Q = np.stack(pdf_q["qvec"].to_numpy()).astype(np.float64)
            # einsum(optimize=True) over the normalized blocks: on
            # this host's OpenBLAS (MAX_THREADS=2 build) a plain
            # `Qn @ Pn.T` runs ~10× slower than the einsum kernel,
            # and with several Arrow workers calling BLAS at once the
            # gap compounds — measured 14.5 s vs 0.05 s per 2000×2250
            # block at sf1.
            S = np.einsum(
                "ik,jk->ij",
                Q / pdf_q["qnorm"].to_numpy()[:, None],
                P / pdf_post["cnorm"].to_numpy()[:, None],
                optimize=True,
            )
            cids = pdf_post["cid"].to_numpy()
            # columns into cid-ascending order, then ONE stable
            # argsort of -S per row: ties at EVERY rank — including
            # the rank-`take` cut boundary — break by cid ascending,
            # so the survivor set itself is deterministic, not just
            # the post-cut ordering (ADVICE r12: argpartition chose
            # boundary ties arbitrarily when more than _MATMUL_SLACK
            # candidates sat within float noise of the boundary).
            # Cost: O(m log m) vs argpartition's O(m) per row —
            # ~100 ms per 2000×2250 block, noise against the einsum.
            o_cid = np.argsort(cids, kind="stable")
            S, cids_o = S[:, o_cid], cids[o_cid]
            qids = pdf_q["qid"].to_numpy()
            t = min(take, S.shape[1])
            part = np.argsort(-S, axis=1, kind="stable")[:, :t]
            qi = np.repeat(qids, t)
            ii = part.ravel()
            mask = cids_o[ii] != qi
            qi, ii = qi[mask], ii[mask]
            cv = P[o_cid]
            return pd.DataFrame(
                {
                    "qid": qi.astype(np.int64),
                    "cid": cids_o[ii].astype(np.int64),
                    "cvec": list(cv[ii]),
                    "cnorm": pdf_post["cnorm"]
                    .to_numpy(np.float64)[o_cid][ii],
                }
            )

        cand = (
            postings.select("cell", "cid", "cvec", "cnorm")
            .groupBy("cell")
            .cogroup(q.groupBy("cell"))
            .applyInPandas(
                _block,
                "qid long, cid long, cvec array<double>, cnorm double",
            )
        )
        qside = queries.select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qvec"),
            l2_norm(F.col(vec_col)).alias("qnorm"),
        )
        scored = cand.join(F.broadcast(qside), "qid").select(
            "qid", "cid", exact_cos
        )
    else:
        scored = (
            postings.join(F.broadcast(q), "cell")
            .where(F.col("cid") != F.col("qid"))
            .select("qid", "cid", exact_cos)
        )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .orderBy("qid", "rank")
    )


def ivf_append_vectors(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """APPEND a day's vectors to a stored IVF index — the maintenance
    half of the index lifecycle (`build_ivf_index` builds once;
    this adds each day's delta in O(delta), no retraining, no
    rewrite of existing postings).

    The stored centroid model is read back (cells × dim — the model,
    not data), the delta is assigned cell ids with the same shared
    ``top_cells`` argmax as the original build (so an appended vector
    lands exactly where a rebuild would put it — append ≡ rebuild,
    pytest-pinned), and the rows are APPENDED into the cell-partitioned
    postings: ``repartition("cell")`` first, so each append adds at
    most one file per touched cell directory.  At 100 TB the daily
    cost is the delta scan + one small write; accumulated append files
    per cell are a compaction concern, not a correctness one — a
    periodic per-cell rewrite (read cell, coalesce, overwrite cell
    partition) restores one-file-per-cell without touching the model
    or other cells.  Centroids drift as the corpus grows; the
    fingerprinted artifact contract (artifacts.ensure_artifact)
    already forces a full rebuild when build params change — re-train
    cadence is an operator policy knob, not hidden here.
    """
    cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    cents = [[float(x) for x in r.centroid] for r in cent_rows]
    rows = delta.select(
        F.element_at(top_cells(F.col(vec_col), cents, 1), 1).alias("cell"),
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cvec"),
        l2_norm(F.col(vec_col)).alias("cnorm"),
    )
    rows.repartition("cell").write.mode("append").partitionBy("cell").parquet(
        resolve_table(f"{path}/postings")
    )


def ivf_delete_vectors(
    path: str, ids: DataFrame, id_col: str = "vec_id"
) -> None:
    """DELETE vectors from a stored IVF index (takedowns, opt-outs,
    retention windows).  Logical delete: the ids land in the postings'
    tombstone set and every ``ivf_probe_topk`` anti-joins them — a
    deleted vector stops matching probes IMMEDIATELY; the next
    ``ivf_compact_cells`` excises the rows physically and clears the
    set.  delete+compact ≡ rebuild-from-survivors is oracle-proven by
    ann_ivf_delete's hash row and pytest-pinned.  O(tombstones): no
    rewrite, no retraining (centroid drift from deletions is the same
    policy knob as append drift)."""
    from another_map_reduce_spark.storeops import append_tombstones

    append_tombstones(
        ids.select(F.col(id_col).alias("cid")), f"{path}/postings", "cid"
    )


def ivf_compact_cells(spark: SparkSession, path: str) -> None:
    """COMPACT a stored IVF index's postings back to one file per cell
    (the OPTIMIZE step of the index lifecycle): daily
    ``ivf_append_vectors`` calls add one small file per touched cell,
    and after many days the probe's file-open cost erodes the
    partition-pruning win — compaction restores the one-file-per-cell
    layout without touching the centroid model.  Tombstoned vectors
    (``ivf_delete_vectors``) are physically excised during the rewrite
    and the tombstone set cleared; absent deletes no row changes.

    Commit is the MANIFEST/POINTER scheme (storeops.compact_table):
    write generation N+1 completely, flip ONE small pointer file
    atomically (os.replace locally; a conditional PUT of one key on an
    object store — the Iceberg/Delta metadata-pointer pattern), GC
    stale generations.  Unlike the previous two-directory rename swap
    there is NO crash point at which a reader sees a missing or
    half-written postings table — kill-point pytest-pinned, probe
    parity before/after pinned.
    """
    from another_map_reduce_spark.storeops import compact_table

    def _write(df: DataFrame, dest: str) -> None:
        (
            df.repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(dest)
        )

    compact_table(spark, f"{path}/postings", id_col="cid", write_fn=_write)


# ---------------------------------------------------------------------------
# Product quantization (IVF+PQ) — the standard 100 TB vector-index layout
# ---------------------------------------------------------------------------


def _lit_cube(cube: list[list[list[float]]]) -> Column:
    """Constant array<array<array<double>>> via ONE parsed SQL
    expression (the 3-D sibling of _lit_matrix, same py4j-cost
    rationale)."""
    body = ",".join(
        "array("
        + ",".join(
            "array(" + ",".join(f"CAST({v!r} AS DOUBLE)" for v in row) + ")"
            for row in mat
        )
        + ")"
        for mat in cube
    )
    return F.expr(f"array({body})")


def _unit_vec(vec: Column) -> Column:
    """L2-normalized double copy of ``vec`` (zero vectors pass through
    unscaled) — PQ encodes NORMALIZED residuals so the asymmetric dot
    estimate IS the cosine estimate."""
    dv = F.transform(vec, lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(
            F.zip_with(dv, dv, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    safe = F.when(norm == 0.0, F.lit(1.0)).otherwise(norm)
    return F.transform(dv, lambda x: x / safe)


def _pq_subvectors(unit: Column, m_sub: int, ds: int) -> Column:
    """array of ``m_sub`` length-``ds`` subvectors of a unit vector."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        lambda m: F.slice(unit, m * ds + 1, ds),
    )


def pq_encode(
    vec: Column, codebooks: list[list[list[float]]]
) -> Column:
    """array<int> of ``len(codebooks)`` codes: per subspace, the
    L2-nearest codeword of the NORMALIZED vector's subvector (ties →
    lowest code, via struct min — pure column expression, no shuffle,
    no Python)."""
    m_sub = len(codebooks)
    ds = len(codebooks[0][0])
    cb = _lit_cube(codebooks)
    subs = _pq_subvectors(_unit_vec(vec), m_sub, ds)
    return F.transform(
        subs,
        lambda sub, m: F.array_min(
            F.transform(
                F.element_at(cb, m + 1),
                lambda cw, j: F.struct(
                    F.aggregate(
                        F.zip_with(sub, cw, lambda x, y: (x - y) * (x - y)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("d2"),
                    j.alias("j"),
                ),
            )
        ).getField("j"),
    )


def train_pq_codebooks(
    corpus: DataFrame,
    m_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
    train_mod: int = 1,
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks (Jégou, Douze &
    Schmid, TPAMI 2011): the d-dim NORMALIZED vector splits into
    ``m_sub`` subvectors of d/m_sub dims; each subspace gets its own
    ``k_codes``-word L2 codebook via Lloyd refinement.

    Same determinism contract as train_centroids: init = the
    ``k_codes`` lowest-id vectors' subvectors (no RNG), assignment is
    a pure column expression, means use DECIMAL(38,12) sums, emptied
    codewords keep their previous value.  ALL subspaces train in ONE
    shuffle per iteration (rows are (m, subvector); grouping key is
    (m, code, dim)) — the model is m_sub × k_codes × d/m_sub doubles,
    always driver-sized.  ``train_mod`` samples like train_centroids.
    """
    base = corpus.select(
        F.col(id_col).alias("vid"), _unit_vec(F.col(vec_col)).alias("nv")
    )
    init_rows = base.orderBy("vid").limit(k_codes).collect()
    if not init_rows:
        raise ValueError("empty corpus: cannot train PQ codebooks")
    dim = len(init_rows[0].nv)
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    ds = dim // m_sub
    cbs = [
        [list(r.nv[m * ds : (m + 1) * ds]) for r in init_rows]
        for m in range(m_sub)
    ]
    # Init may have fewer vectors than k_codes on tiny corpora: pad by
    # cycling (duplicates never win an argmin tie over the original —
    # equal distance, higher code index loses).
    while len(cbs[0]) < k_codes:
        for m in range(m_sub):
            cbs[m].append(list(cbs[m][len(cbs[m]) % len(init_rows)]))
    if iters <= 0:
        return cbs
    sample = (
        base
        if train_mod <= 1
        else base.where(F.pmod(F.xxhash64("vid"), F.lit(train_mod)) == 0)
    )
    par = corpus.sparkSession.sparkContext.defaultParallelism
    subs = sample.select(
        F.posexplode(
            _pq_subvectors(F.col("nv"), m_sub, ds)
        ).alias("m", "sub")
    ).repartition(par).persist()
    try:
        for _ in range(iters):
            cb_lit = _lit_cube(cbs)
            assigned = subs.select(
                "m",
                "sub",
                F.array_min(
                    F.transform(
                        F.element_at(cb_lit, F.col("m") + 1),
                        lambda cw, j: F.struct(
                            F.aggregate(
                                F.zip_with(
                                    F.col("sub"),
                                    cw,
                                    lambda x, y: (x - y) * (x - y),
                                ),
                                F.lit(0.0),
                                lambda acc, x: acc + x,
                            ).alias("d2"),
                            j.alias("j"),
                        ),
                    )
                ).getField("j").alias("code"),
            )
            stats = (
                assigned.select("m", "code", F.posexplode("sub").alias("d", "x"))
                .groupBy("m", "code", "d")
                .agg(
                    F.sum(F.col("x").cast("decimal(38,12)")).alias("sx"),
                    F.count("*").alias("n"),
                )
                .collect()
            )
            new_cbs = [[list(cw) for cw in mat] for mat in cbs]
            acc: dict[tuple[int, int], dict[int, float]] = {}
            for r in stats:
                acc.setdefault((int(r.m), int(r.code)), {})[int(r.d)] = (
                    float(r.sx) / r.n
                )
            for (m, code), dims in acc.items():
                new_cbs[m][code] = [dims[d] for d in sorted(dims)]
            cbs = new_cbs
    finally:
        subs.unpersist()
    return cbs


def build_ivf_pq_index(
    corpus: DataFrame,
    path: str,
    num_cells: int = 16,
    m_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 2,
    train_mod: int = 1,
) -> None:
    """IVF+PQ index: ``build_ivf_index``'s centroids + full-precision
    postings, PLUS per-subspace PQ codebooks and a ``pqcodes`` table —
    (cell, cid, codes: array<int>) partitioned by cell like postings.

    The layout story at 100 TB: the probe SCAN reads pqcodes (m_sub
    small ints per vector ≈ 32× smaller than d×4-byte floats for
    d=64/m=8), ranks candidates with the asymmetric-distance lookup
    (ivf_pq_probe_topk), and touches the full-precision postings ONLY
    for the shortlist rerank — so the per-query IO is
    nprobe/C × |codes| + rerank × d instead of nprobe/C × |vectors|.
    The full-precision postings stay authoritative (append/compact
    reuse the plain-IVF paths; re-encode the delta into pqcodes the
    same way).
    """
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    build_ivf_index(
        corpus,
        path,
        num_cells=num_cells,
        id_col=id_col,
        vec_col=vec_col,
        train_iters=train_iters,
        train_mod=train_mod,
    )
    cbs = train_pq_codebooks(
        corpus,
        m_sub=m_sub,
        k_codes=k_codes,
        id_col=id_col,
        vec_col=vec_col,
        iters=train_iters,
        train_mod=train_mod,
    )
    # Driver-sized model → direct pyarrow write (same local-FS-only
    # caveat and remediation as the centroid write above).
    shutil.rmtree(f"{path}/codebooks", ignore_errors=True)
    os.makedirs(f"{path}/codebooks", exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "m": pa.array(
                    [m for m in range(m_sub) for _ in range(k_codes)],
                    pa.int32(),
                ),
                "code": pa.array(
                    [j for _ in range(m_sub) for j in range(k_codes)],
                    pa.int32(),
                ),
                "codeword": pa.array(
                    [cbs[m][j] for m in range(m_sub) for j in range(k_codes)],
                    pa.list_(pa.float64()),
                ),
            }
        ),
        f"{path}/codebooks/part-0.parquet",
    )
    spark = corpus.sparkSession
    reset_table(f"{path}/pqcodes")
    # A rebuild resets every member to the legacy (gen-0) layout, so a
    # delta root surviving from a previous index's appends would become
    # APPLICABLE again — drop it with the rest of the old state.
    shutil.rmtree(f"{path}/deltas", ignore_errors=True)
    postings = read_table(spark, f"{path}/postings", id_col="cid")
    codes = postings.select(
        "cell",
        "cid",
        pq_encode(F.col("cvec"), cbs).alias("codes"),
    )
    codes.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{path}/pqcodes")


def ivf_pq_append_vectors(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """APPEND a day's vectors to a stored IVF+PQ index — both layouts:
    the full-precision postings (via ``ivf_append_vectors``, the same
    stored-centroid assignment as the build) AND the ``pqcodes``
    table, encoding the delta against the STORED codebooks so an
    appended vector's codes are exactly what a rebuild would produce
    (codes are a pure function of (vector, codebooks) — append ≡
    rebuild, pytest-pinned).  O(delta): no retraining of centroids or
    codebooks, no rewrite of existing rows, at most one new file per
    touched cell per table.  Codebook drift under a growing corpus is
    the same policy knob as centroid drift (see ivf_append_vectors).

    ATOMIC PAIR COMMIT (closes the round-10 crash window): both
    layouts' delta rows are staged under ONE hidden delta directory
    and made visible with a single ``os.rename``
    (``storeops.commit_delta`` — the delta-group mechanism), so there
    is NO kill point at which probes see a posting without its PQ
    code or vice versa; ``ivf_pq_check_consistency`` is a no-op
    assertion at every crash point (kill-point pytest-pinned in
    test_storeops).  A crash mid-staging leaves only an invisible
    ``.tmp`` dir, GC'd by the next compact, and the crashed append
    can simply be RE-RUN (nothing of it became visible — unlike the
    old in-place double append, where a rerun duplicated postings).
    On an object store the single rename translates to one
    conditional PUT of the delta's manifest key.
    """
    from another_map_reduce_spark.storeops import commit_delta

    cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    cents = [[float(x) for x in r.centroid] for r in cent_rows]
    cbs = read_pq_codebooks(spark, path)
    rows = delta.select(
        F.element_at(top_cells(F.col(vec_col), cents, 1), 1).alias("cell"),
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cvec"),
        l2_norm(F.col(vec_col)).alias("cnorm"),
    )
    codes = delta.select(
        F.element_at(top_cells(F.col(vec_col), cents, 1), 1).alias("cell"),
        F.col(id_col).alias("cid"),
        pq_encode(F.col(vec_col), cbs).alias("codes"),
    )

    def _write(df: DataFrame):
        return lambda dest: (
            df.repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(dest)
        )

    commit_delta(
        path, {"postings": _write(rows), "pqcodes": _write(codes)}
    )


def ivf_pq_delete_vectors(
    path: str, ids: DataFrame, id_col: str = "vec_id"
) -> None:
    """DELETE vectors from a stored IVF+PQ index — tombstones BOTH
    layouts (postings via ``ivf_delete_vectors``, plus the pqcodes
    table) so the ADC candidate scan and the exact rerank agree a
    deleted vector no longer exists.  Probes drop it immediately; the
    next ``ivf_pq_compact`` excises both tables physically.  The
    two-table write shares the append path's crash window (documented
    at ivf_pq_append_vectors): a crash between the two tombstone
    appends leaves the vector tombstoned in postings but not pqcodes —
    still CORRECT for probes (the rerank join against live postings
    drops it) and healed by the next compact of either table."""
    from another_map_reduce_spark.storeops import append_tombstones

    cids = ids.select(F.col(id_col).alias("cid"))
    append_tombstones(cids, f"{path}/postings", "cid")
    append_tombstones(cids, f"{path}/pqcodes", "cid")


def ivf_pq_check_consistency(spark: SparkSession, path: str) -> DataFrame:
    """postings↔pqcodes consistency audit for a stored IVF+PQ index —
    the detector for the ivf_pq_append_vectors crash window: a
    full-outer join on the (cell, cid) KEY (both sides read only those
    two columns — column pruning keeps vectors and codes on disk),
    reporting the orphans per cell as (cell, n_missing_pqcodes,
    n_missing_postings).  A true bijection test, not a count
    comparison — per-cell COUNT equality would let compensating
    orphans in the same cell (a code-less posting from an append crash
    plus a posting-less code from a delete crash) cancel out and pass.
    An EMPTY result means every posting has exactly one code and vice
    versa; a non-empty result names the cells to repair (re-encode
    missing ids against the stored codebooks, or compact from the
    postings truth).
    """
    p = read_member(spark, path, "postings", id_col="cid").select(
        "cell", "cid", F.lit(1).alias("_p")
    )
    c = read_member(spark, path, "pqcodes", id_col="cid").select(
        "cell", "cid", F.lit(1).alias("_c")
    )
    return (
        p.join(c, ["cell", "cid"], "full")
        .where(F.col("_p").isNull() | F.col("_c").isNull())
        .groupBy("cell")
        .agg(
            F.count(F.when(F.col("_c").isNull(), 1)).alias(
                "n_missing_pqcodes"
            ),
            F.count(F.when(F.col("_p").isNull(), 1)).alias(
                "n_missing_postings"
            ),
        )
    )


def ivf_pq_compact(spark: SparkSession, path: str) -> None:
    """Compact BOTH layouts of an IVF+PQ index back to one file per
    cell — ``ivf_compact_cells`` for the postings plus the same
    manifest/pointer commit (storeops.compact_table) for ``pqcodes``:
    tombstoned vectors are excised from both tables, each table's
    pointer flips atomically, and no crash point leaves a reader
    without a complete table (kill-point pytest-pinned; probe parity
    before/after pinned).  Since r11 the tables form a DELTA GROUP
    (atomic paired appends — see ivf_pq_append_vectors): each
    member's compaction folds its applicable deltas into the new
    generation, and the SAME pointer flip that publishes the folded
    rows expires those deltas for that member, so even between the
    two members' flips every reader sees each row exactly once;
    fully-consumed delta dirs (and any crashed append's hidden
    staging dir) are GC'd at the end."""
    from another_map_reduce_spark.storeops import (
        compact_member,
        gc_consumed_deltas,
    )

    def _write(df: DataFrame, dest: str) -> None:
        (
            df.repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(dest)
        )

    compact_member(spark, path, "postings", id_col="cid", write_fn=_write)
    compact_member(spark, path, "pqcodes", id_col="cid", write_fn=_write)
    gc_consumed_deltas(path, ["postings", "pqcodes"])


def read_pq_codebooks(
    spark: SparkSession, path: str
) -> list[list[list[float]]]:
    rows = spark.read.parquet(f"{path}/codebooks").orderBy("m", "code").collect()
    m_sub = 1 + max(int(r.m) for r in rows)
    cbs: list[list[list[float]]] = [[] for _ in range(m_sub)]
    for r in rows:
        cbs[int(r.m)].append([float(x) for x in r.codeword])
    return cbs


RERANK_FRACTION = 0.02  # rerank ≈ 2% of probed candidates


def proportional_rerank(
    corpus_rows: int, num_cells: int, nprobe: int,
    fraction: float = RERANK_FRACTION, floor: int = 100,
) -> int:
    """Constant-recall rerank sizing — the shortlist twin of
    ``proportional_nprobe``: a FIXED rerank decays in recall as the
    probed candidate count (corpus/cells × nprobe) outgrows it
    (measured, BENCH_SCALE_r9pq.json: 0.69 → 0.65 over 10×), while a
    rerank proportional to the probed candidates holds recall at flat
    probe cost (10×: rerank 100 → 0.651, 400 → 0.839, 1000 → 0.884 at
    7.5 / 6.5 / 7.5 s).  Exact-rerank cost stays bounded by
    rerank × d per query."""
    probed = corpus_rows * nprobe // max(num_cells, 1)
    return max(floor, int(probed * fraction))


def ivf_pq_probe_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    rerank: int | None = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a STORED IVF+PQ index: probe the pqcodes of the
    ``nprobe`` best cells, rank candidates by ASYMMETRIC distance (per
    query, a LUT of subspace-dot-products against every codeword is
    computed ONCE — m_sub × k_codes small dots — and each candidate
    costs m_sub array lookups instead of a d-dim dot), keep the top
    ``rerank`` per query, and re-score ONLY those against the
    full-precision postings with the exact bit-reproducible cosine.

    ``rerank=None`` reranks every probed candidate — combined with
    ``nprobe = num_cells`` that config is LOSSLESS (the ADC shortlist
    drops nothing, the rerank is the exact cosine over every
    candidate), which is the oracle-provable regime; the approximate
    regime's recall is measured in tests and SCALE.md.  Output
    (qid, cid, cos, rank) matches the brute-force shape.
    """
    cbs = read_pq_codebooks(spark, path)
    m_sub = len(cbs)
    k_codes = len(cbs[0])
    ds = len(cbs[0][0])
    cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    cents = [[float(x) for x in r.centroid] for r in cent_rows]
    cb_lit = _lit_cube(cbs)
    qv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q_subs = F.transform(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        lambda m: F.slice(qv, m * ds + 1, ds),
    )
    # Per-query LUT: lut[m][j] = <q_m, codeword[m][j]> — computed once
    # per query ROW (queries are the small side), reused per candidate.
    lut = F.transform(
        q_subs,
        lambda sub, m: F.transform(
            F.element_at(cb_lit, m + 1),
            lambda cw, j: F.aggregate(
                F.zip_with(sub, cw, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
    )
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        lut.alias("lut"),
        F.explode(top_cells(F.col(vec_col), cents, nprobe)).alias("cell"),
    )
    codes = read_member(spark, path, "pqcodes", id_col="cid")
    adc = (
        codes.join(F.broadcast(q), "cell")
        .where(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "qvec",
            "cell",
            "cid",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m_sub - 1)),
                F.lit(0.0),
                lambda acc, m: acc
                + F.element_at(
                    F.element_at(F.col("lut"), m + 1),
                    F.element_at(F.col("codes"), m + 1) + 1,
                ),
            ).alias("adc"),
        )
    )
    if rerank is not None:
        w_adc = Window.partitionBy("qid").orderBy(
            F.col("adc").desc(), F.col("cid")
        )
        adc = adc.withColumn("arank", F.row_number().over(w_adc)).where(
            F.col("arank") <= rerank
        )
    postings = read_member(spark, path, "postings", id_col="cid").select(
        "cell", "cid", "cvec"
    )
    exact = adc.join(postings, ["cell", "cid"]).select(
        "qid",
        "cid",
        cosine_similarity(F.col("qvec"), F.col("cvec")).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .orderBy("qid", "rank")
    )


def vector_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group mean vector, one output row per (group, dim).

    posexplode → groupBy(group, dim) → exact-decimal mean: the sums are
    order-independent (decimal(38,9) after a deterministic float→double
    cast), so the centroid hashes identically on any engine or
    partitioning — this is the VERIFIABLE formulation.  It shuffles
    N·d rows; for raw throughput at fixed d a grouped Arrow UDA with
    numpy partial sums halves the traffic but float-sum order makes it
    non-reproducible bit-for-bit — keep that variant for training, this
    one for anything hashed or diffed.
    """
    groups = group_cols or ["label"]
    exploded = df.select(
        *groups,
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"),
    )
    return (
        exploded.groupBy(*groups, (F.col("pos") + 1).alias("dim"))
        .agg(
            (
                F.sum(F.col("v").cast("decimal(38,9)")).cast("double")
                / F.count("v")
            ).alias("centroid")
        )
        .orderBy(*groups, "dim")
    )


# ---------------------------------------------------------------------------
# Sign random projection (Johnson–Lindenstrauss dimensionality reduction)
# ---------------------------------------------------------------------------
#
# Project d-dim embeddings to m < d dims with a fixed ±1 matrix
# (Achlioptas 2003: database-friendly random projections — sign
# entries satisfy the JL lemma with the same distortion bounds as
# Gaussians).  The matrix is derived from md5 of (seed, j, i), so
# BOTH engines materialize the identical constants and every dot
# product is replayable; at 100 TB the projection is a pure map-side
# column expression — no shuffle, no model state beyond the seed —
# and cuts every downstream ANN/cosine stage's bandwidth by d/m.


def sign_projection_matrix(
    d: int, m: int, seed: str = "amrs-rp-v1"
) -> list[list[float]]:
    """m rows of d deterministic ±1.0 signs: row j, column i drawn
    from the first hex digit of md5(f"{seed}-{j}-{i}")."""
    import hashlib

    return [
        [
            1.0
            if int(
                hashlib.md5(f"{seed}-{j}-{i}".encode()).hexdigest()[0], 16
            )
            < 8
            else -1.0
            for i in range(d)
        ]
        for j in range(m)
    ]


def rp_dot(vec: Column, consts: list[float]) -> Column:
    """Σ vec[i]·consts[i] folded strictly left-to-right — the same
    IEEE add order DuckDB's list_dot_product uses, so rounded results
    are bit-identical cross-engine (the embedding_quantize_stats
    precedent)."""
    return F.aggregate(
        F.zip_with(
            vec,
            F.array(*[F.lit(c) for c in consts]),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def rp_project(vec: Column, signs: list[list[float]]) -> Column:
    """array<double> of the m sign-projection components of ``vec``."""
    return F.array(*[rp_dot(vec, row) for row in signs])
