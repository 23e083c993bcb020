"""Similarity search over embedding columns (``array<float>``).

- ``cosine``: in-order double fold (zip_with + aggregate) — deterministic,
  bit-stable, pure JVM;
- ``brute_force_topk``: exact k-NN for a (small, broadcast) query set —
  the correctness baseline; one pass over the corpus, per-query heap via
  window row_number with WindowGroupLimit pushdown;
- ``cosine_pairs``: exact all-pairs >= threshold (use inside blocks);
- ``lsh_bucket_topk`` / ``hyperplane_signature``: the scale path —
  random-hyperplane LSH: 60-bit signature per vector from md5-derived
  deterministic hyperplanes, candidates from Hamming-band blocking, exact
  cosine re-rank.  Approximate recall is measured in tests, not assumed.

At 100 TB: the brute-force path is a single broadcast-join scan (no
shuffle); the LSH path exchanges only (band, key) buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "brute_force_topk",
    "hard_negatives",
    "triplet_mining",
    "prefix_dim_recall",
    "jl_project_quantized",
    "jl_recall_report",
    "jl_rerank_topk",
    "range_search",
    "cosine_pairs",
    "cosine_pairs_gemm",
    "mmr_rerank",
    "hyperplane_signature",
    "lsh_candidates",
    "lsh_topk",
    "lsh_band_curve",
    "seed_centroids",
    "kmeans_centroids",
    "kmeans_convergence",
    "power_iteration",
    "codebook_drift",
    "ivf_assign",
    "ivf_topk",
    "ivf_probe_curve",
    "ivf_knn_join",
    "ivf_topk_from_index",
    "quantize_error",
    "label_centroids",
    "pq_codes",
    "ivfpq_index",
]


def _d(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """In-order fold -> deterministic double accumulation."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(v: Column) -> Column:
    return F.sqrt(dot(v, v))


def cosine(a: Column, b: Column) -> Column:
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot(a, b) / (na * nb))


def _dot_raw(a: Column, b: Column) -> Column:
    """``dot`` over ALREADY double-cast vectors (no per-element re-cast)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _cosine_staged(va: Column, vb: Column, na: Column, nb: Column) -> Column:
    """Cosine from pre-staged double vectors + pre-staged norms.  Pair
    pipelines MUST use this: computing ``cosine()`` inside the pair
    expression runs THREE full vector folds per pair (dot + both norms) and
    re-casts float->double per pair; staging per row leaves one fold per
    pair.  Arithmetic is bit-identical to ``cosine()`` (same elementwise
    casts, same in-order fold), so oracle hashes are unaffected."""
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(
        _dot_raw(va, vb) / (na * nb)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for every query vector.

    ``queries`` is broadcast (it must be small — the classic ANN-baseline
    shape); the corpus streams through one scan; the per-query top-k uses
    row_number so Spark's WindowGroupLimit keeps only k rows per query per
    partition before the shuffle."""
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("qvd", _d(F.col("qv")))
        .withColumn("qn", l2_norm(F.col("qvd")))
        .drop("qv")
    )
    c = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        .withColumn("cvd", _d(F.col("cv")))
        .withColumn("cn", l2_norm(F.col("cvd")))
        .drop("cv")
    )
    scored = c.join(q, F.col("neighbor_id") != F.col("query_id")).withColumn(
        "sim",
        _cosine_staged(F.col("qvd"), F.col("cvd"), F.col("qn"), F.col("cn")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


def range_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine RANGE query: every (query, neighbor) pair with
    ``sim >= threshold`` — the radius-based retrieval mode next to top-k
    (near-duplicate harvesting wants "everything this similar", not "the
    10 most similar"; a fixed k either truncates dense neighborhoods or
    pads sparse ones).

    Scale: the probe set is broadcast (ANN-baseline shape — probes are
    small); the corpus streams through ONE scan with the staged-norm
    cosine fold and the threshold filter applied map-side, so the
    operator is zero-shuffle: output size is the answer size, and no
    window/top-k state exists at all.  For corpus-x-corpus range search
    use :func:`cosine_pairs` (LSH-bucketed) instead — broadcasting only
    works while probes stay driver-small.

    Reference anchor: complements ``brute_force_topk`` (same staging, same
    bit-exact cosine) — the pair (sim >= t) vs (rank <= k) mirrors
    range-vs-knn in any vector store."""
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("qvd", _d(F.col("qv")))
        .withColumn("qn", l2_norm(F.col("qvd")))
        .drop("qv")
    )
    c = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        .withColumn("cvd", _d(F.col("cv")))
        .withColumn("cn", l2_norm(F.col("cvd")))
        .drop("cv")
    )
    sim = _cosine_staged(F.col("qvd"), F.col("cvd"), F.col("qn"), F.col("cn"))
    return (
        c.join(q, F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim_raw", sim)
        .where(F.col("sim_raw") >= threshold)
        .select(
            "query_id",
            "neighbor_id",
            F.round("sim_raw", 6).alias("sim"),
        )
    )


SQ8_SCALE = 1_000_000  # 1e-6 fixed-point grid for the pre-quantization ints


def sq8_codes(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar (int8) quantization codes: per-dimension min/max over the
    corpus defines 256 uniform buckets per dim; each coordinate stores
    only its bucket ``q`` in 0..255 — the classic SQ8 index layout that
    shrinks a float32 vector 4x (and is the simplest member of the
    quantization family next to PQ: per-dim scalar grid vs per-subspace
    codebook).

    Exactness: coordinates are first snapped to a 1e-6 fixed-point grid
    (``floor(x * SQ8_SCALE)`` — the repo's established portable double->
    int idiom, same as the k-means fixed-point discipline), so min/max,
    bucket assignment, and the reconstruction numerator
    ``num = mn*255 + q*(mx - mn)`` (denominator ``255*SQ8_SCALE``) are
    ALL integers — no double participates until display, and an
    independent engine reproduces every code bit-for-bit.

    Plan at scale: one map-side explode + a 64-row (dim) aggregation for
    the stats, broadcast back; codes are (vec_id, dim, q, num) ints — the
    table that ships to serving instead of raw vectors.  Constant dims
    (mx == mn) reconstruct exactly to mn with q = 0.

    Returns ``(vec_id, dim, q, num)``."""
    ex = corpus.select(
        F.col(id_col).alias("vec_id"), F.posexplode(vec_col).alias("dim", "x")
    ).withColumn(
        "xs", F.floor(F.col("x").cast("double") * F.lit(float(SQ8_SCALE))).cast("long")
    )
    stats = ex.groupBy("dim").agg(
        F.min("xs").alias("mn"), F.max("xs").alias("mx")
    )
    return (
        ex.join(F.broadcast(stats), "dim")
        .withColumn(
            "q",
            F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
                F.expr("((xs - mn) * 255) div (mx - mn)")
            ).cast("long"),
        )
        .select(
            "vec_id",
            "dim",
            "q",
            (F.col("mn") * 255 + F.col("q") * (F.col("mx") - F.col("mn")))
            .cast("long")
            .alias("num"),
        )
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric top-k over the SQ8 index: full-precision(-grid) queries
    scored against int8-reconstructed corpus vectors (ADC — queries lose
    nothing, only the stored corpus is compressed).

    The cosine is computed ENTIRELY from integers: dot and both squared
    norms accumulate integer products in DECIMAL(38,0) — orderless sums,
    so partition order can never flip a low bit — and only the final
    ``dot / (sqrt(qn2) * sqrt(cn2))`` evaluates in doubles (of exact
    integer inputs: bit-identical in any engine).  The fixed-point
    denominators cancel, so this IS the exact cosine of the dequantized
    pair.

    Plan: probe table explodes to (query, dim) and broadcasts; one
    equi-join on dim against the codes, one (query, neighbor) integer
    aggregation, one WindowGroupLimit top-k.  The corpus-side exchange
    carries 8-bit codes (as the ``num`` ints), never float vectors.

    Returns ``(query_id, neighbor_id, sim, rank)`` with round(sim, 6)
    display (irrational — the audited-safe class)."""
    codes = sq8_codes(corpus, id_col=id_col, vec_col=vec_col)
    qx = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.posexplode(vec_col).alias("qdim", "x"),
        ).withColumn(
            "xs", F.floor(F.col("x").cast("double") * F.lit(float(SQ8_SCALE))).cast("long")
        )
    )
    sc = (
        codes.join(
            qx,
            (F.col("dim") == F.col("qdim"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.sum(F.col("xs").cast("decimal(38,0)") * F.col("num")).alias("dot"),
            F.sum(F.col("xs").cast("decimal(38,0)") * F.col("xs")).alias("qn2"),
            F.sum(F.col("num").cast("decimal(38,0)") * F.col("num")).alias("cn2"),
        )
    )
    sim = F.col("dot").cast("double") / (
        F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("cn2").cast("double"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_raw"), "neighbor_id")
    return (
        sc.withColumn("sim_raw", sim)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim_raw", 6).alias("sim"), "rank")
    )


def _centroid_best_two(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector best and second-best centroid cosine, MAP-ONLY: the
    codebook is a literal array of (cid, cvec) structs, each row scores
    all cells with the same in-order double fold as :func:`cosine` and
    sorts the (neg-sim, cid) structs — argmax ties break on cid exactly
    like the serving paths' ``ORDER BY csim DESC, cid``.  Zero shuffle;
    the whole assignment stays inside whole-stage codegen.

    Returns ``(id, cell, sim_own, sim_2nd)``."""
    carr = F.array(
        *[
            F.struct(
                F.lit(int(cid)).alias("cid"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("cvec"),
            )
            for cid, vec in cents
        ]
    )
    scored = F.array_sort(
        F.transform(
            carr,
            lambda c: F.struct(
                (-cosine(F.col("_v"), c["cvec"])).alias("ns"),
                c["cid"].alias("cid"),
            ),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
        .withColumn("_sc", scored)
        .select(
            "id",
            F.col("_sc")[0]["cid"].alias("cell"),
            (-F.col("_sc")[0]["ns"]).alias("sim_own"),
            (-F.col("_sc")[1]["ns"]).alias("sim_2nd"),
        )
    )


def silhouette_by_cell(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell simplified (centroid) silhouette over the IVF codebook —
    the PARTITION-quality report next to the recall family's SERVING
    quality: with cosine distance d = 1 - sim and a = d(own centroid),
    b = d(second-best centroid), a vector's silhouette is
    ``s = (b - a) / max(a, b) = (sim_own - sim_2nd) / (1 - sim_2nd)``
    (a <= b always, since own is the argmax).  s near 1 = compact,
    well-separated cell; s < 0 = the vector sits closer to another
    centroid than its own — per-cell ``n_negative`` is the count of such
    misfit members, the direct signal to re-run a k-means round.

    Exactness: per-vector s is a double of deterministic in-order folds
    (bit-identical in DuckDB), snapped once to micro-units with
    ``round(s * 1e6)`` (irrational inputs — the audited-safe class);
    everything per-cell is then INTEGER: sums not means are reported, so
    no floor-direction question arises on negative values.

    Plan: the scoring is map-only (:func:`_centroid_best_two`); the only
    shuffle is the n_cells-key aggregation of integer partials.

    Degenerate geometry guard: ``sim_2nd == 1.0`` (duplicate or collinear
    centroids — the second-best centroid coincides with the vector) makes
    the silhouette 0/0; that member's ``sil_e6`` is explicit NULL (the
    zipf_slope degenerate-fit convention) rather than the NaN that Spark
    would silently cast to 0L while DuckDB's round(NaN) diverges.  A
    1-centroid codebook has no second-best distance at all, so it is
    rejected loudly.

    Returns ``(cell, n_members, sum_sil_e6, min_sil_e6, max_sil_e6,
    n_negative)``."""
    if len(cents) < 2:
        raise ValueError(
            f"silhouette_by_cell needs >= 2 centroids, got {len(cents)} "
            "(silhouette is defined against the second-best centroid)"
        )
    bt = _centroid_best_two(df, cents, id_col, vec_col)
    sil = F.when(
        F.col("sim_2nd") < 1.0,
        F.round(
            (F.col("sim_own") - F.col("sim_2nd"))
            / (F.lit(1.0) - F.col("sim_2nd"))
            * 1000000
        ),
    ).cast("long")
    return (
        bt.withColumn("sil_e6", sil)
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("sil_e6").alias("sum_sil_e6"),
            F.min("sil_e6").alias("min_sil_e6"),
            F.max("sil_e6").alias("max_sil_e6"),
            F.count_if(F.col("sil_e6") < 0).alias("n_negative"),
        )
        .select(
            F.col("cell").cast("int").alias("cell"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("sum_sil_e6").cast("long").alias("sum_sil_e6"),
            F.col("min_sil_e6").cast("long").alias("min_sil_e6"),
            F.col("max_sil_e6").cast("long").alias("max_sil_e6"),
            F.col("n_negative").cast("long").alias("n_negative"),
        )
    )


def centroid_outliers(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k out-of-distribution vectors: the embeddings farthest from
    EVERY centroid (lowest best-centroid cosine) — the OOD/noise screen a
    training pipeline runs before contrastive sampling (mislabeled or
    corrupted embeddings surface here first).  Scoring is the same
    map-only pass as the silhouette; the global rank-<=-k window plans as
    WindowGroupLimit (per-partition top-k before the single-partition
    rank — the repo's audited bounded-global-window pattern).

    Returns ``(vec_id, cell, sim, rank)``, sim in round-6 display."""
    bt = _centroid_best_two(df, cents, id_col, vec_col)
    w = Window.orderBy(F.asc("sim_own"), "id")
    return (
        bt.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("id").alias(id_col),
            "cell",
            F.round("sim_own", 6).alias("sim"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocking_cols: list[str] | None = None,
) -> DataFrame:
    """Exact pairs with cosine >= threshold (id_a < id_b), optionally within
    blocking groups.  The embedding-cosine near-dup primitive."""
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")] + [
        F.col(c) for c in (blocking_cols or [])
    ]
    d = (
        df.select(*cols)
        .withColumn("vd", _d(F.col("v")))
        .withColumn("nrm", l2_norm(F.col("vd")))
        .drop("v")
    )
    a, b = d.alias("a"), d.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    for c in blocking_cols or []:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .withColumn(
            "sim",
            _cosine_staged(
                F.col("a.vd"), F.col("b.vd"), F.col("a.nrm"), F.col("b.nrm")
            ),
        )
        .where(F.col("sim") >= threshold)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round("sim", 6).alias("sim"),
        )
    )


def _seq_norm(m):
    """Column-ordered L2 norms — same fp64 add sequence as the ``dot`` fold."""
    import numpy as np

    acc = np.zeros(m.shape[0])
    for k in range(m.shape[1]):
        acc = acc + m[:, k] * m[:, k]
    return np.sqrt(acc)


def _arrow_id_matrix(rb):
    """Decode a (id, vector) Arrow RecordBatch to ``(ids int64[n],
    matrix float64[n, dim])`` by flattening the list column's value
    buffer — the zero-object-overhead input path shared by the
    ``mapInArrow`` kernels.  Values are identical to the per-row
    ``np.asarray(v, float64)`` conversion (same float32->float64 cast)."""
    import numpy as np
    import pyarrow as pa

    ids = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
    arr = rb.column(1)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    n = len(ids)
    if n == 0:
        return ids, flat.reshape(0, 0)
    return ids, flat.reshape(n, len(flat) // n)


def _collect_id_matrix(df: DataFrame, id_col: str, vec_col: str):
    """Collect ``(ids int64[N], matrix float64[N,dim])`` on the driver via
    Arrow — one flatten + reshape of the list column's value buffer, no
    pandas object-of-lists intermediate (which costs several× N·dim·8 B in
    Python object overhead).  This is an EAGER, driver-side materialization:
    memory is bounded by N·dim·8 bytes of the COLLECTED frame (~5 GiB at
    10M × 64).  ``cosine_pairs_gemm`` with ``tiles=C`` calls this on
    id-range slices so the driver stages only one tile at a time; for
    corpora past even that, the LSH/IVF blocked paths avoid O(N²) scoring
    altogether."""
    import numpy as np

    tbl = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).toArrow()
    ids = (
        tbl.column("id").combine_chunks().to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    arr = tbl.column("v").combine_chunks()
    n = len(arr)
    if n == 0:
        return ids, np.zeros((0, 0))
    # flatten() honors the array's slice offset, so the values line up as
    # n contiguous rows; embeddings are fixed-width, asserted below.
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    widths = np.diff(arr.offsets.to_numpy())
    dim = int(widths[0])
    if not (widths == dim).all():
        raise ValueError(f"ragged {vec_col!r} column; expected uniform dim")
    return ids, flat.reshape(n, dim)


def cosine_pairs_gemm(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tiles: int = 1,
) -> DataFrame:
    """``cosine_pairs`` computed by a broadcast block-kernel instead of a
    per-pair expression fold: the corpus matrix is broadcast, each task
    scores its own row block against it with numpy, and only the surviving
    (id_a < id_b, sim >= threshold) pairs leave the task — the O(N²) pair
    set is never materialized as rows.

    **Bit-identical to the fold**: the kernel accumulates column-wise in
    index order (``acc = acc + A[:,k] * M[:,k]``), which performs the exact
    same fp64 multiply-then-add sequence per pair as the ``aggregate`` fold
    in ``dot`` (and numpy elementwise ops are IEEE-754 correctly rounded,
    like the JVM), so sims — and the DuckDB oracle hash — are unchanged.
    Tiling splits the corpus along ROWS, which does not touch any pair's
    accumulation order, so the tiled output is bit-identical too (asserted
    in ``test_operators.py``).

    **Scale honesty**: building the broadcast requires an eager driver-side
    collect of the corpus (Arrow path, ``_collect_id_matrix``).  With
    ``tiles=1`` the driver stages the full N·dim·8 bytes once.  ``tiles=C``
    collects PER TILE — tile boundaries come from a distributed
    ``approxQuantile`` sketch on the id column (C-1 doubles reach the
    driver, never the ids), and each contiguous id range's vectors are
    collect-broadcast in turn — so peak driver Python heap is ~N·dim·8/C
    bytes (plus a constant sketch) and peak executor broadcast memory is
    N·dim·8/C.  (The serialized broadcasts live in the JVM block manager
    with MEMORY_AND_DISK semantics, so already-shipped tiles can spill.)
    The cost is C filtered scans of the corpus during the build; the left
    side still streams with zero shuffle in every scoring pass.  For
    corpora past even that, use ``cosine_pairs`` with blocking columns, or
    the LSH (``lsh_topk``) / IVF (``ivf_topk``) paths.
    """
    import numpy as np
    import pyarrow as pa

    spark = df.sparkSession
    left = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    schema = "id_a long, id_b long, sim_raw double"

    def make_pass(bc):
        def block_scores(batches):
            b_ids, b_mat, b_norms = bc.value
            dim = b_mat.shape[1] if b_mat.ndim == 2 else 0
            for rb in batches:
                if not rb.num_rows:
                    continue
                a_ids, a_mat = _arrow_id_matrix(rb)
                acc = np.zeros((len(a_ids), len(b_ids)))
                for k in range(dim):
                    acc = acc + a_mat[:, k : k + 1] * b_mat[:, k][None, :]
                a_norms = _seq_norm(a_mat)
                denom = a_norms[:, None] * b_norms[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sim = np.where(denom == 0.0, 0.0, acc / denom)
                keep = (sim >= threshold) & (a_ids[:, None] < b_ids[None, :])
                ai, bi = np.nonzero(keep)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(a_ids[ai]),
                        pa.array(b_ids[bi]),
                        pa.array(sim[ai, bi]),
                    ],
                    names=["id_a", "id_b", "sim_raw"],
                )

        return block_scores

    def _bc_tile(ids_c, mat_c):
        return spark.sparkContext.broadcast((ids_c, mat_c, _seq_norm(mat_c)))

    tiles = max(1, int(tiles))
    out = None
    if tiles == 1:
        ids, mat = _collect_id_matrix(df, id_col, vec_col)
        if len(ids):
            out = left.mapInArrow(make_pass(_bc_tile(ids, mat)), schema=schema)
    else:
        # id-space tiling: stage only one tile's vectors on the driver at a
        # time.  Tile boundaries come from a DISTRIBUTED quantile sketch
        # (approxQuantile, Greenwald-Khanna) — the driver receives C-1
        # doubles, never the id column itself (which is 8 B/row: 80 GB of
        # driver heap at 10^10 rows).  Half-open ranges (lo, hi] built from
        # the cut points partition the id domain regardless of sketch
        # accuracy (inexact quantiles only skew tile SIZES, never drop or
        # duplicate an id); the first/last tiles are unbounded below/above
        # so coverage needs no min/max pass.  Tile membership differs from
        # row-index tiling but the pair set — and each pair's fp64
        # accumulation order — is unchanged, so the output is bit-identical
        # (asserted in test_operators.py).
        probs = [i / tiles for i in range(1, tiles)]
        rel_err = 1.0 / (4 * tiles)
        cuts_f = df.approxQuantile(id_col, probs, rel_err) if probs else []
        # floats cap exact long representation at 2^53 — far beyond any
        # realistic id space, and inexact cuts only move tile boundaries
        cuts = sorted({int(c) for c in cuts_f})
        bounds: list[int | None] = [None, *cuts, None]
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col(id_col) > F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(id_col) <= F.lit(hi))
            sub = df.where(cond)
            ids_c, mat_c = _collect_id_matrix(sub, id_col, vec_col)
            if not len(ids_c):
                continue
            part = left.mapInArrow(make_pass(_bc_tile(ids_c, mat_c)), schema=schema)
            del ids_c, mat_c  # driver heap: only the broadcast handle survives
            out = part if out is None else out.unionAll(part)
    if out is None:
        out = spark.createDataFrame([], schema)
    # round in the PLAN (Spark HALF_UP), matching cosine_pairs exactly
    return out.select("id_a", "id_b", F.round("sim_raw", 6).alias("sim"))


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (scale path)
# ---------------------------------------------------------------------------


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component k of plane p derives
    from md5(p:k) — reproducible across sessions/engines with no RNG."""
    import hashlib

    return [
        (int(hashlib.md5(f"{plane}:{k}".encode()).hexdigest()[:15], 16) % 2001 - 1000)
        / 1000.0
        for k in range(dim)
    ]


def hyperplane_signature(vec: Column, dim: int, bits: int = 60) -> Column:
    """``bits``-bit sign signature: bit p = 1 iff v . h_p > 0."""
    sig = F.lit(0).cast("long")
    for p in range(bits):
        plane = F.array(*[F.lit(x) for x in _hyperplane(dim, p)])
        positive = dot(vec, plane) > 0
        sig = sig + F.when(positive, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def _lsh_index_kernel(
    df: DataFrame,
    dim: int,
    bits: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """LSH row index in ONE Arrow pass: per row the 60-bit hyperplane
    signature plus the staged double vector and its norm — ``(id, sig, v,
    nrm)``.  Same column-ordered numpy accumulation as the other kernels,
    so every plane dot (and therefore every sign bit) and every norm is
    bit-identical to the ``hyperplane_signature`` expression path.
    Map-only; the plane matrix rides the task closure.  Rides
    ``mapInArrow`` (buffer flatten/reshape — see ``_arrow_id_matrix``)."""
    import numpy as np
    import pyarrow as pa

    planes = np.array([_hyperplane(dim, p) for p in range(bits)])  # (bits, dim)
    bitvals = (np.int64(1) << np.arange(bits, dtype=np.int64))

    def index_blocks(batches):
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            ids, vmat = _arrow_id_matrix(rb)
            acc = np.zeros((n, planes.shape[0]))
            for k in range(dim):
                acc = acc + vmat[:, k : k + 1] * planes[:, k][None, :]
            sig = ((acc > 0) * bitvals[None, :]).sum(axis=1)
            nrm = np.zeros(n)
            for k in range(dim):
                nrm = nrm + vmat[:, k] * vmat[:, k]
            offs = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
            v_list = pa.ListArray.from_arrays(
                offs, pa.array(vmat.reshape(-1), type=pa.float64())
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids), pa.array(sig), v_list, pa.array(np.sqrt(nrm))],
                names=["id", "sig", "v", "nrm"],
            )

    return df.select(id_col, vec_col).mapInArrow(
        index_blocks, schema="id long, sig long, v array<double>, nrm double"
    )


def lsh_bucket_stats(
    df: DataFrame,
    dim: int,
    bands: int = 4,
    bits: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-band LSH bucket LOAD-BALANCE report — the capacity-planning
    read on the index the candidate join runs over: bucket count, item
    count, the largest bucket, the exact candidate-pair bill
    est_pairs = sum c*(c-1)/2 (the (band,key) self-join's true output
    size), and the largest bucket's half-up-ppm share of items.  This is
    the number that says whether the band/bit budget keeps the exchange
    flat at 100 TB BEFORE anyone pays for the pair join: a top_share_ppm
    drifting toward 1e6 means one hot bucket owns the index and the
    self-join degenerates quadratic — re-tune bits/band or salt.

    All-integer outputs (counts, exact pair arithmetic through
    DECIMAL(38,0) — sum c^2 outgrows int64 once any bucket passes ~3e9);
    one (band, key) exchange plus a bands-row final aggregate."""
    width = bits // bands
    sigs = _lsh_index_kernel(df, dim, bits, id_col, vec_col).select("id", "sig")
    banded = sigs.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sig"), b * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    for b in range(bands)
                ]
            )
        ).alias("band", "key"),
    )
    c = banded.groupBy("band", "key").agg(F.count("*").alias("c"))
    dec = "decimal(38,0)"
    return (
        c.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum("c").cast("long").alias("n_items"),
            F.max("c").cast("long").alias("max_bucket"),
            (F.sum(F.col("c").cast(dec) * (F.col("c") - 1)).cast(dec)).alias(
                "p2"
            ),
        )
        .select(
            "band",
            "n_buckets",
            "n_items",
            "max_bucket",
            F.expr(f"CAST(p2 div 2 AS BIGINT)").alias("est_pairs"),
            F.expr(
                f"CAST((2 * CAST(max_bucket AS {dec}) * 1000000 + n_items)"
                f" div (2 * CAST(n_items AS {dec})) AS BIGINT)"
            ).alias("top_share_ppm"),
        )
    )


def lsh_candidates(
    df: DataFrame,
    dim: int,
    bands: int = 6,
    bits: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Candidate pairs agreeing on >= 1 signature band (id_a < id_b)."""
    width = bits // bands
    # vectors staged double-cast with their norms so the downstream re-rank
    # is one fold per candidate (see _cosine_staged); signature + staging
    # happen in one Arrow kernel pass (bit-identical to the expression path)
    sigs = _lsh_index_kernel(df, dim, bits, id_col, vec_col)
    banded = sigs.select(
        "id",
        "v",
        "nrm",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sig"), b * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    for b in range(bands)
                ]
            )
        ).alias("band", "key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("a.v").alias("v_a"),
            F.col("a.nrm").alias("n_a"),
            F.col("b.id").alias("id_b"),
            F.col("b.v").alias("v_b"),
            F.col("b.nrm").alias("n_b"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the cell-partitioned scale path
# ---------------------------------------------------------------------------


def seed_centroids(
    df: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse quantizer: the ``n_cells`` lowest-id vectors.

    The index contract downstream is just ``(cid, centroid_vector)`` — a
    k-means refinement slots in here without touching assign/probe/search.
    Seeds keep the quantizer closed-form, so an independent engine (the
    DuckDB oracle) can replicate the *whole* IVF pipeline exactly.  The
    collect is n_cells rows — the same driver-side materialization any
    broadcast of the codebook implies."""
    rows = (
        df.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).cast("int").alias("cid"), F.col(vec_col).alias("cvec")
        )
        .collect()
    )
    return [(r["cid"], [float(x) for x in r["cvec"]]) for r in rows]


#: 1e15 fixed-point quantum for the k-means member sums (the same exactness
#: trick as pagerank's contributions: BIGINT sums are partition-order
#: independent where double sums are not)
KMEANS_QUANTUM = 1000000000000000.0


def kmeans_centroids(
    df: DataFrame,
    n_cells: int = 8,
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds: list[tuple[int, list[float]]] | None = None,
) -> list[tuple[int, list[float]]]:
    """``n_iters`` Lloyd rounds of codebook refinement over ``seeds``
    (default: :func:`seed_centroids`) — the production coarse quantizer for
    :func:`ivf_topk` / :func:`ivfpq_index`, fixing the cell-balance luck of
    raw id-ordered seeds at scale while keeping the ``(cid, vector)``
    contract unchanged (cells keep their seed cids; serving paths don't
    change at all, they just receive a better codebook).

    Per round: assignment is the SAME Arrow kernel the serving paths use
    (:func:`_ivf_corpus_index` — bit-identical cells, map-only, zero
    corpus shuffle); the ONE shuffle carries ``(cell, dim)`` partial sums
    of 1e15 fixed-point BIGINTs (exact under any partitioning — at
    petabyte corpora switch the sum to DECIMAL(38,0)), and the driver
    collects only ``n_cells x dim`` aggregate rows — codebook-sized, the
    same materialization broadcasting any codebook implies.  Empty cells
    keep their previous centroid.  Deterministic end to end, so an
    independent engine can replicate a round in closed form (the
    ``emb_ivf_recall_refined`` oracle does, in SQL)."""
    cents = (
        seeds
        if seeds is not None
        else seed_centroids(df, n_cells, id_col, vec_col)
    )
    s = F.lit(KMEANS_QUANTUM)
    for _ in range(int(n_iters)):
        agg = (
            _ivf_corpus_index(df, cents, id_col, vec_col)
            .select("cell", F.posexplode("cvd").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.floor(F.col("x") * s)).alias("qsum"),
            )
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in agg:
            by_cell.setdefault(int(r["cell"]), {})[int(r["dim"])] = (
                float(r["qsum"]) / KMEANS_QUANTUM
            ) / int(r["n"])
        cents = [
            (
                cid,
                [by_cell[int(cid)][j] for j in range(len(cv))]
                if int(cid) in by_cell
                else cv,
            )
            for cid, cv in cents
        ]
    return cents


#: 1e12 fixed-point quantum for per-vector inertia contributions: (1 - sim)
#: <= 2 keeps a 2000-row corpus sum below 4e15; switch to DECIMAL(38,0) past
#: ~10^6 vectors (the kmeans_centroids overflow note applies here too)
INERTIA_QUANTUM = 1000000000000.0


def kmeans_convergence(
    df: DataFrame,
    n_cells: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Lloyd-iteration CONVERGENCE CURVE for the k-means codebook build:
    one row per iteration 0..n_iters with the corpus inertia under that
    iteration's codebook and the number of vectors that changed cells —
    the training-side tuning curve next to the serving-side ones
    (ivf_probe_curve: nprobe; lsh_band_curve: bands): it says how many
    Lloyd rounds the index build must pay before assignments stop moving.

    Inertia is ``sum(floor((1 - best_cosine) * 1e12))`` — each row's
    contribution quantized to a BIGINT BEFORE the sum, so the total is
    exact under any partitioning/accumulation order (the pagerank /
    kmeans_centroids fixed-point discipline; a double sum would be
    partition-order noise).  ``n_moved`` compares consecutive assignments
    (ties broken to the lowest cid everywhere), NULL for iteration 0.
    Note the curve is NEAR-monotone, not guaranteed monotone: assignment
    is by cosine while the update is the coordinate MEAN (the
    kmeans_centroids contract), and on unnormalized vectors the mean is
    not the cosine-optimal centroid — spherical k-means would normalize.
    The curve reports what the build actually does, drift included.

    One corpus pass: every iteration's codebook is scored per row in the
    same projection (interpreted HOF folds over plan-literal codebooks —
    fine for a diagnostic; the per-iteration BUILD passes inside
    kmeans_centroids use the Arrow index kernel), then ONE global
    aggregate of 3(n_iters+1) counters.  Zero shuffle over the corpus:
    the aggregate's partials are counter-sized.  Codebooks are collected
    driver-side per round — n_cells x dim rows, the same materialization
    broadcasting any codebook implies."""
    books = [
        seeds if seeds is not None else seed_centroids(df, n_cells, id_col, vec_col)
    ]
    for _ in range(int(n_iters)):
        books.append(
            kmeans_centroids(
                df, n_cells, 1, id_col, vec_col, seeds=books[-1]
            )
        )
    row = df
    for i, cb in enumerate(books):
        best = F.array_max(_centroid_scores(F.col(vec_col), cb))
        row = row.withColumn(f"_c{i}", best["cid"]).withColumn(
            f"_q{i}",
            F.floor((F.lit(1.0) - best["sim"]) * F.lit(INERTIA_QUANTUM)).cast(
                "long"
            ),
        )
    agg = row.agg(
        *[F.sum(f"_q{i}").alias(f"_in{i}") for i in range(len(books))],
        *[
            F.sum(
                F.when(F.col(f"_c{i}") != F.col(f"_c{i - 1}"), 1).otherwise(0)
            ).alias(f"_mv{i}")
            for i in range(1, len(books))
        ],
    )
    stack_args = ["0", "CAST(NULL AS BIGINT)", "_in0"]
    for i in range(1, len(books)):
        stack_args += [str(i), f"CAST(_mv{i} AS BIGINT)", f"_in{i}"]
    return agg.selectExpr(
        f"stack({len(books)}, {', '.join(stack_args)})"
        " AS (iteration, n_moved, inertia_q)"
    ).select(
        F.col("iteration").cast("int").alias("iteration"),
        "n_moved",
        F.col("inertia_q").cast("long").alias("inertia_q"),
    )


def prefix_dim_recall(
    corpus: DataFrame,
    queries: DataFrame,
    prefix_dims: tuple[int, ...] = (8, 16, 32),
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style TRUNCATION diagnostic: recall@k of cosine search
    over only the FIRST d dimensions, for each candidate prefix width,
    against the full-dimension exact top-k — the table that says how
    small a stored/serving prefix can get before retrieval quality pays
    (the measurement behind MRL-style embedding deployments, and the
    sibling of the quantization recalls: SQ8/PQ shrink precision, this
    shrinks WIDTH).

    Returns ``(prefix_dim, n_hits, n_truth, recall)`` — one row per
    prefix plus the full width (recall 1.0 by construction, the
    self-check row).

    ONE corpus pass: both sides stage the double vector, each prefix's
    slice and norm per ROW (never per pair), the pair join computes all
    prefix cosines together, and one window per width (all partitioned
    by query — one exchange, parallel sorts) ranks them; hits count
    pairs inside both the prefix top-k and the full top-k.  The output
    is a len(prefix_dims)+1-row counter table."""
    dims = sorted(int(d) for d in prefix_dims)

    def staged(df: DataFrame, idname: str) -> DataFrame:
        out = (
            df.select(F.col(id_col).alias(idname), F.col(vec_col).alias("v"))
            .withColumn(f"{idname}_vd", _d(F.col("v")))
            .withColumn(f"{idname}_n", l2_norm(F.col(f"{idname}_vd")))
            .drop("v")
        )
        for d in dims:
            sl = F.slice(F.col(f"{idname}_vd"), 1, d)
            out = out.withColumn(f"{idname}_vd{d}", sl).withColumn(
                f"{idname}_n{d}", l2_norm(sl)
            )
        return out

    q = F.broadcast(staged(queries, "query_id"))
    c = staged(corpus, "neighbor_id")
    pairs = c.join(q, F.col("neighbor_id") != F.col("query_id"))
    sims = pairs.select(
        "query_id",
        "neighbor_id",
        _cosine_staged(
            F.col("query_id_vd"),
            F.col("neighbor_id_vd"),
            F.col("query_id_n"),
            F.col("neighbor_id_n"),
        ).alias("sim_full"),
        *[
            _cosine_staged(
                F.col(f"query_id_vd{d}"),
                F.col(f"neighbor_id_vd{d}"),
                F.col(f"query_id_n{d}"),
                F.col(f"neighbor_id_n{d}"),
            ).alias(f"sim_{d}")
            for d in dims
        ],
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("sim_full"), "neighbor_id")
    ranked = sims.withColumn("rank_full", F.row_number().over(wf))
    for d in dims:
        wd = Window.partitionBy("query_id").orderBy(
            F.desc(f"sim_{d}"), "neighbor_id"
        )
        ranked = ranked.withColumn(f"rank_{d}", F.row_number().over(wd))
    from presto_ethereum_spark.operators.dedup import round6_ratio

    in_truth = F.col("rank_full") <= k
    agg = ranked.agg(
        F.sum(F.when(in_truth, 1).otherwise(0)).alias("n_truth"),
        *[
            F.sum(
                F.when(in_truth & (F.col(f"rank_{d}") <= k), 1).otherwise(0)
            ).alias(f"hits_{d}")
            for d in dims
        ],
    )
    stack_args: list[str] = []
    for d in dims:
        stack_args += [str(d), f"CAST(hits_{d} AS BIGINT)"]
    stack_args += ["-1", "CAST(n_truth AS BIGINT)"]  # -1 = full width row
    return (
        agg.selectExpr(
            "n_truth",
            f"stack({len(dims) + 1}, {', '.join(stack_args)})"
            " AS (prefix_dim, n_hits)",
        )
        .select(
            F.col("prefix_dim").cast("int").alias("prefix_dim"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.col("n_truth").cast("long").alias("n_truth"),
            round6_ratio(F.col("n_hits"), F.col("n_truth")).alias("recall"),
        )
    )


def triplet_mining(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Triplet assembly for metric-learning batches: per anchor, the
    hardest POSITIVE (most-similar same-label neighbor — the pair the
    loss must keep together) and the hardest NEGATIVE (most-similar
    different-label neighbor — :func:`hard_negatives`' top-1), plus the
    margin between them; ``margin <= 0`` flags anchors whose nearest
    other-class vector is closer than their nearest same-class one, the
    triplets a FaceNet-style loss actually learns from.

    Returns ``(query_id, pos_id, pos_sim, neg_id, neg_sim, margin)``;
    pos columns are NULL for an anchor with no same-label peer.

    One scored pass: the broadcast anchor set joins the corpus once,
    a single window over (query_id, same_label) takes the top row of
    EACH side — positives and negatives never rank against each other —
    and a counter-sized pivot folds the two rows per anchor into one
    triplet.  Corpus-side work is identical to one brute_force_topk
    scan; nothing pairwise materializes beyond the two kept rows per
    anchor."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("qlabel"),
            F.col(vec_col).alias("qv"),
        )
        .withColumn("qvd", _d(F.col("qv")))
        .withColumn("qn", l2_norm(F.col("qvd")))
        .drop("qv")
    )
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("nlabel"),
            F.col(vec_col).alias("cv"),
        )
        .withColumn("cvd", _d(F.col("cv")))
        .withColumn("cn", l2_norm(F.col("cvd")))
        .drop("cv")
    )
    scored = (
        c.join(q, F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            _cosine_staged(
                F.col("qvd"), F.col("cvd"), F.col("qn"), F.col("cn")
            ),
        )
        .withColumn("is_pos", F.col("nlabel") == F.col("qlabel"))
    )
    w = Window.partitionBy("query_id", "is_pos").orderBy(
        F.desc("sim"), "neighbor_id"
    )
    top = scored.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") == 1
    )
    pos, neg = F.col("is_pos"), ~F.col("is_pos")
    return top.groupBy("query_id").agg(
        F.max(F.when(pos, F.col("neighbor_id"))).alias("pos_id"),
        F.round(F.max(F.when(pos, F.col("sim"))), 6).alias("pos_sim"),
        F.max(F.when(neg, F.col("neighbor_id"))).alias("neg_id"),
        F.round(F.max(F.when(neg, F.col("sim"))), 6).alias("neg_sim"),
        F.round(
            F.max(F.when(pos, F.col("sim"))) - F.max(F.when(neg, F.col("sim"))),
            6,
        ).alias("margin"),
    )


#: 1e12 fixed-point quantum for power-iteration contributions (|s·x_d| is
#: a few units on unit-scale embeddings; 1e12 keeps a multi-thousand-row
#: sum far under 2^63 — switch to DECIMAL(38,0) past ~10^6 rows)
POWER_QUANTUM = 1000000000000.0


def power_iteration(
    df: DataFrame,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed POWER ITERATION toward the top principal direction of
    the corpus's (uncentered) second-moment matrix AᵀA — the spectral
    step under PCA whitening / low-rank screens, run without ever
    materializing the dim x dim Gram matrix: per round, each row
    contributes ``(x·v) * x`` and the next direction is the normalized
    per-dimension sum.  ``v₀ = e₀`` (deterministic; no RNG enters the
    plan).

    Returns ``(iteration, dim, contrib_q)``: the fixed-point BIGINT sums
    ``Σ floor((x·v)·x_d · 1e12)`` for every round — the unnormalized
    iterate w, whose norm is the Rayleigh eigenvalue estimate.  Each
    row's contribution quantizes BEFORE the sum (pagerank discipline:
    exact under any partitioning); normalization happens driver-side on
    the dim-sized collected sums in plain fp64, so an independent engine
    replays every round bit-for-bit from the same integers.

    Scale: each round is one map pass (the dot against a plan-literal v
    folds in-order, no shuffle of vectors) + ONE shuffle of (dim,
    BIGINT) partials — map-side combine caps it at dim rows per task;
    the driver holds only the dim-sized iterate (same materialization
    any codebook broadcast implies).  Rounds 1..n-1 collect to build the
    next direction; the FINAL round's aggregate stays distributed and
    earlier rounds union in as literal rows."""
    q = F.lit(POWER_QUANTUM)
    spark = df.sparkSession
    vd = _d(F.col(vec_col))
    v: list[float] | None = None  # None = e0, avoids a degenerate literal dot
    done: list[tuple[int, int, int]] = []
    last = None
    for it in range(1, int(n_iters) + 1):
        s = vd[0] if v is None else _dot_raw(
            F.array(*[F.lit(float(x)) for x in v]), vd
        )
        agg = (
            df.select(s.alias("s"), F.posexplode(vd).alias("dim", "x"))
            .select("dim", F.floor(F.col("s") * F.col("x") * q).alias("c"))
            .groupBy("dim")
            .agg(F.sum("c").alias("contrib_q"))
            .select(
                F.lit(it).cast("int").alias("iteration"),
                F.col("dim").cast("int").alias("dim"),
                F.col("contrib_q").cast("long").alias("contrib_q"),
            )
        )
        if it == int(n_iters):
            last = agg
            break
        rows = agg.collect()
        done += [(it, int(r["dim"]), int(r["contrib_q"])) for r in rows]
        w = {int(r["dim"]): float(r["contrib_q"]) / POWER_QUANTUM for r in rows}
        wv = [w.get(d, 0.0) for d in range(max(w) + 1)]
        norm = _py_l2(wv)
        if norm == 0.0:
            # degenerate corpus (all mass orthogonal to v): keep direction
            norm = 1.0
        v = [x / norm for x in wv]
    if done:
        prior = spark.createDataFrame(
            done, "iteration int, dim int, contrib_q long"
        )
        return prior.unionByName(last)
    return last


def _py_l2(cv: list[float]) -> float:
    """Python replica of ``l2_norm`` over a double-literal vector: the SAME
    in-order fp64 accumulation as the JVM fold, so the value is
    bit-identical to what ``l2_norm(lit_vector)`` would compute per row."""
    import math

    acc = 0.0
    for x in cv:
        acc += x * x
    return math.sqrt(acc)


def _centroid_scores(
    vec: Column, centroids: list[tuple[int, list[float]]]
) -> Column:
    """array<struct<sim, neg, cid>> of cosine scores against the (literal)
    codebook.  Struct field order makes array_max/array_sort rank by
    (sim, then lowest cid) — ties break identically everywhere.

    Stages the row vector (double-cast + norm) in a plan-local struct and
    bakes each centroid's norm in as a literal: higher-order folds are
    interpreted (not codegen'd), so the naive form — ``cosine()`` per
    centroid — costs 5 folds per centroid per row (dot + the when-guard
    evaluating both norms twice), recomputing the row norm 2x per centroid
    and folding constant centroid norms per row.  Staged: one norm fold +
    one dot fold per centroid.  Arithmetic is bit-identical (same
    elementwise casts, same in-order accumulation, Python floats ARE
    fp64)."""
    # The codebook is baked in as ONE parsed SQL literal rather than nested
    # F.lit calls: n_cells x dim double literals cost ~4 py4j round-trips
    # each the nested way — measured 2-3 s of pure driver time per build
    # for an 8x64 codebook (r13).  The `D` suffix parses directly to a
    # DOUBLE literal and repr() is the shortest round-trip form, so the
    # parsed tree (and every downstream fold) is bit-identical.
    # Literal-formatting precondition (ADVICE r13): repr() of a non-finite
    # double renders 'nanD'/'infD', which the SQL parser REJECTS where the
    # old F.lit path would have built a valid literal — fail loud with the
    # real cause instead of a ParseException if pathological upstream
    # embeddings ever produce one.
    import math as _math

    for _cid, _cv in centroids:
        if not all(_math.isfinite(float(_x)) for _x in _cv) or not _math.isfinite(
            _py_l2([float(_x) for _x in _cv])
        ):
            raise ValueError(
                f"centroid {_cid} has a non-finite component or norm; cannot"
                " be rendered as a SQL double literal"
            )
    cents = F.expr(
        "array({})".format(
            ",".join(
                "named_struct('cid', {cid}, 'cvec', array({cv}), 'cn', {cn!r}D)".format(
                    cid=int(cid),
                    cv=",".join(f"{float(x)!r}D" for x in cv),
                    cn=_py_l2([float(x) for x in cv]),
                )
                for cid, cv in centroids
            )
        )
    )
    staged = F.struct(_d(vec).alias("vd"), l2_norm(vec).alias("vn"))
    return F.transform(
        # 1-element wrapper so `staged` is evaluated once per row, not once
        # per centroid (lambda args are the only memoized expressions in an
        # interpreted HOF tree)
        F.transform(F.array(F.lit(0)), lambda _: staged),
        lambda v: F.transform(
            cents,
            lambda c: F.struct(
                F.when((c["cn"] == 0) | (v["vn"] == 0), F.lit(0.0))
                .otherwise(_dot_raw(c["cvec"], v["vd"]) / (c["cn"] * v["vn"]))
                .alias("sim"),
                (-c["cid"]).alias("neg"),
                c["cid"].alias("cid"),
            ),
        ),
    )[0]


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Assign every vector to its nearest-centroid cell (highest cosine,
    ties to the lowest cid).

    The codebook is inlined as a plan literal, so assignment is a pure
    map-side expression — **zero shuffle** over the corpus.  At 100 TB the
    assigned corpus is written once ``partitionBy(cell)``; queries then prune
    to nprobe cells at the storage layer."""
    scored = _centroid_scores(F.col(vec_col), centroids)
    return df.withColumn(cell_col, F.array_max(scored)["cid"])


def _ivf_corpus_index(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Corpus side of the IVF index in ONE Arrow pass: per row, the
    double-cast vector, its l2 norm, and the nearest-centroid cell —
    ``(neighbor_id, cvd, cn, cell)``.

    Same numpy block kernel as ``cosine_pairs_gemm`` (column-ordered
    accumulation == the expression fold's fp64 op sequence, ties to the
    lowest cid via first-argmax over cid-ascending centroids), so cells,
    staged vectors, and norms are bit-identical to ``ivf_assign`` +
    ``_d``/``l2_norm`` staging — it just skips the interpreted per-row
    codebook expression.  Map-only: zero shuffle over the corpus at any
    scale (the codebook rides into the task closure, exactly like the plan
    literal it replaces).

    Rides ``mapInArrow``: the list column's value buffer flattens +
    reshapes straight into the [n, dim] matrix (and the output matrix
    becomes a ListArray from the same buffer) — no pandas
    object-of-arrays round trip on either side (~30% off the warm pass,
    measured at sf0.1)."""
    import numpy as np
    import pyarrow as pa

    cents = sorted(centroids, key=lambda c: int(c[0]))
    cids = np.array([int(c) for c, _ in cents], dtype=np.int64)
    cmat = np.array([[float(x) for x in cv] for _, cv in cents])
    cnorms = np.array([_py_l2([float(x) for x in cv]) for _, cv in cents])
    dim = cmat.shape[1]

    def index_blocks(batches):
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            ids, vmat = _arrow_id_matrix(rb)
            acc = np.zeros((n, len(cids)))
            for j in range(dim):
                acc = acc + vmat[:, j : j + 1] * cmat[:, j][None, :]
            vn = np.zeros(n)
            for j in range(dim):
                vn = vn + vmat[:, j] * vmat[:, j]
            vn = np.sqrt(vn)
            denom = cnorms[None, :] * vn[:, None]
            zero = (cnorms[None, :] == 0.0) | (vn[:, None] == 0.0)
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = np.where(zero, 0.0, acc / np.where(zero, 1.0, denom))
            best = sim.argmax(axis=1)  # first max -> lowest cid
            offs = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
            cvd = pa.ListArray.from_arrays(
                offs, pa.array(vmat.reshape(-1), type=pa.float64())
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids),
                    cvd,
                    pa.array(vn),
                    pa.array(cids[best].astype(np.int32), type=pa.int32()),
                ],
                names=["neighbor_id", "cvd", "cn", "cell"],
            )

    return corpus.select(id_col, vec_col).mapInArrow(
        index_blocks, schema="neighbor_id long, cvd array<double>, cn double, cell int"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]] | None = None,
    n_cells: int = 8,
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-NN via inverted-file probing.

    1. assign corpus vectors to cells (map-side, codebook in the task
       closure);
    2. each query probes its ``nprobe`` closest cells;
    3. exact cosine re-rank within the probed cells only.

    Search cost drops from O(N) to ~O(N * nprobe / n_cells) per query; with
    ``nprobe == n_cells`` the result equals ``brute_force_topk`` exactly
    (tested).

    Inline serving fuses assignment + scoring into ONE Arrow pass over the
    raw corpus (no JVM->Python->JVM round trip between an index stage and
    a scoring stage — measured ~2x on the warm serve).  On a deployment
    where the index is MATERIALIZED (written out partitioned BY cell —
    ``_ivf_corpus_index`` builds exactly that table), serving reads only
    the probed cells' partitions; the scoring kernel is the same either
    way."""
    import numpy as np
    import pyarrow as pa

    if centroids is None:
        centroids = seed_centroids(corpus, n_cells, id_col, vec_col)
    probe_cells = F.transform(
        F.slice(
            F.reverse(F.array_sort(_centroid_scores(F.col("query_vec"), centroids))),
            1,
            nprobe,
        ),
        lambda s: s["cid"],
    )
    # the probe table is tiny by contract (queries broadcast in every ANN
    # path here); collecting it keeps cell selection bit-identical to the
    # expression path while letting scoring ride the numpy kernel below
    probe_rows = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
        )
        .withColumn("cell", F.explode(probe_cells))
        .withColumn("qvd", _d(F.col("query_vec")))
        .withColumn("qn", l2_norm(F.col("qvd")))
        .select("query_id", "cell", "qvd", "qn")
        .collect()
    )
    by_cell: dict[int, list] = {}
    for r in probe_rows:
        by_cell.setdefault(int(r["cell"]), []).append(
            (int(r["query_id"]), np.asarray(r["qvd"], dtype=np.float64),
             float(r["qn"]))
        )
    bc = corpus.sparkSession.sparkContext.broadcast(
        {
            c: (
                np.array([q[0] for q in qs], dtype=np.int64),
                np.array([q[1] for q in qs]),
                np.array([q[2] for q in qs]),
            )
            for c, qs in by_cell.items()
        }
    )

    cents = sorted(centroids, key=lambda c: int(c[0]))
    cids_np = np.array([int(c) for c, _ in cents], dtype=np.int64)
    cmat = np.array([[float(x) for x in cv] for _, cv in cents])
    cnorms = np.array([_py_l2([float(x) for x in cv]) for _, cv in cents])
    dim = cmat.shape[1]

    def serve(batches):
        qmap = bc.value
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            ids, vmat = _arrow_id_matrix(rb)
            # in-kernel cell assignment — identical arithmetic to
            # _ivf_corpus_index (column-ordered accumulation, first-argmax
            # ties to the lowest cid)
            acc = np.zeros((n, len(cids_np)))
            for j in range(dim):
                acc = acc + vmat[:, j : j + 1] * cmat[:, j][None, :]
            vn = np.zeros(n)
            for j in range(dim):
                vn = vn + vmat[:, j] * vmat[:, j]
            vn = np.sqrt(vn)
            denom0 = cnorms[None, :] * vn[:, None]
            zero0 = denom0 == 0.0
            with np.errstate(divide="ignore", invalid="ignore"):
                csim = np.where(zero0, 0.0, acc / np.where(zero0, 1.0, denom0))
            cell_arr = cids_np[csim.argmax(axis=1)]
            for c in np.unique(cell_arr):
                qs = qmap.get(int(c))
                if qs is None:
                    continue
                qids, qmat, qn = qs
                mask = cell_arr == c
                sub, sub_ids, sub_cn = vmat[mask], ids[mask], vn[mask]
                # column-ordered accumulation == the zip_with/aggregate
                # fold's fp64 op sequence (same argument as
                # cosine_pairs_gemm), so sims are bit-identical to the
                # _cosine_staged expression this kernel replaces
                sacc = np.zeros((len(sub_ids), len(qids)))
                for j in range(sub.shape[1]):
                    sacc = sacc + sub[:, j : j + 1] * qmat[:, j][None, :]
                denom = sub_cn[:, None] * qn[None, :]
                zero = denom == 0.0
                with np.errstate(divide="ignore", invalid="ignore"):
                    sim = np.where(zero, 0.0, sacc / np.where(zero, 1.0, denom))
                keep = sub_ids[:, None] != qids[None, :]
                ri, qi = np.nonzero(keep)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(qids[qi]),
                        pa.array(sub_ids[ri]),
                        pa.array(sim[ri, qi]),
                    ],
                    names=["query_id", "neighbor_id", "sim"],
                )

    scored = corpus.select(id_col, vec_col).mapInArrow(
        serve, schema="query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


def lsh_topk(
    df: DataFrame,
    dim: int,
    k: int = 10,
    bands: int = 15,
    bits: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-NN: exact cosine re-rank over LSH candidates.

    Band width tunes the recall/cost curve: 15 bands x 4 bits suits
    low-similarity regimes (nearest neighbors at cosine ~0.3, where each
    extra signature bit only agrees with p~0.6); for true near-dup corpora
    (cosine >= 0.9) use 6 bands x 10 bits for far smaller buckets.  Recall
    is measured against brute force in tests, not assumed."""
    cand = lsh_candidates(
        df, dim, bands=bands, bits=bits, id_col=id_col, vec_col=vec_col
    )
    sym = cand.select(
        F.col("id_a").alias("query_id"),
        F.col("id_b").alias("neighbor_id"),
        F.col("v_a").alias("qv"),
        F.col("n_a").alias("qn"),
        F.col("v_b").alias("nv"),
        F.col("n_b").alias("nn"),
    ).unionByName(
        cand.select(
            F.col("id_b").alias("query_id"),
            F.col("id_a").alias("neighbor_id"),
            F.col("v_b").alias("qv"),
            F.col("n_b").alias("qn"),
            F.col("v_a").alias("nv"),
            F.col("n_a").alias("nn"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        sym.withColumn(
            "sim",
            _cosine_staged(F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn")),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


def quantize_error(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id", levels: int = 255
) -> DataFrame:
    """Per-vector reconstruction MSE of int8-style scalar quantization:
    each element is snapped to one of ``levels+1`` evenly spaced values over
    the vector's own [min, max] range (the standard per-vector int8
    compression used to shrink ANN indexes 4x vs float32).

    Returns (id, quant_mse).  The real pipeline would store the quantized
    codes; this operator measures the error budget that decision costs, so
    the compression/recall trade-off is a number, not a guess.

    Everything is one narrow JVM projection per row (array_min/max + a
    fold) — zero shuffle, runs at scan speed at any corpus size.  Rounding
    is ``floor(x + 0.5)`` written explicitly so the SQL oracle computes the
    bit-identical value (engine ``round()`` tie-break conventions differ).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = (
        df.select(F.col(id_col).alias("id"), v.alias("v"))
        .withColumn("lo", F.array_min("v"))
        .withColumn("sc", (F.array_max("v") - F.col("lo")) / F.lit(float(levels)))
    )

    def sq_err(x):
        dq = F.col("lo") + F.floor((x - F.col("lo")) / F.col("sc") + F.lit(0.5)) * F.col("sc")
        return (x - dq) * (x - dq)

    mse = F.when(
        (F.size("v") == 0) | (F.col("sc") == 0.0), F.lit(0.0)
    ).otherwise(
        F.aggregate("v", F.lit(0.0), lambda acc, x: acc + sq_err(x)) / F.size("v")
    )
    return staged.select("id", F.round(mse, 12).alias("quant_mse"))


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid, one row per (label, dimension):
    (label, pos, centroid_val, n_vectors).  The class-prototype /
    codebook-training primitive behind nearest-centroid classification and
    IVF index builds.

    Long-form on purpose: posexplode to (label, pos, val) then a plain
    partial+final average — one shuffle on a (label, pos) key that is tiny
    and perfectly uniform (|labels| x dim cells), however many vectors
    stream through the map side.  A wide-form array-of-avgs would need the
    whole vector per group in one aggregation buffer; long-form keeps the
    state per cell at one (sum, count) pair."""
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "pos", "val"
        ),
    )
    return exploded.groupBy("label", "pos").agg(
        F.round(F.avg("val"), 9).alias("centroid_val"),
        F.count("*").alias("n_vectors"),
    )


def pq_codes(
    corpus: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding: split each vector into
    ``len(codebooks)`` contiguous sub-vectors of ``sub_dim`` dims and assign
    each to its nearest sub-centroid by squared L2 distance (ties to the
    lowest code).  Output one row per (vector, subspace): ``(vec_id,
    subspace, code, err2)`` where ``err2`` is the winning squared distance —
    the per-subspace reconstruction error budget.

    ``codebooks[s]`` is ``[(code, sub_centroid_vector), ...]`` for subspace
    ``s`` (codes ascending).  PQ is the memory-compression path for
    billion-vector ANN: 64 fp32 dims (256 B) become 8 uint8 codes, and
    asymmetric distance computation needs only the codebook.

    Exactness: squared L2 is *rational* — subtract, square, accumulate in
    index order — so the numpy kernel (same column-ordered accumulation as
    ``cosine_pairs_gemm``) reproduces an independent engine's fold
    bit-for-bit; no transcendental, no fixed-point needed.  Map-only: the
    codebook rides into the task closure; zero shuffle at any corpus
    size.  Rides ``mapInArrow`` (buffer flatten/reshape, no pandas
    object detour — see ``_arrow_id_matrix``)."""
    import numpy as np
    import pyarrow as pa

    n_sub = len(codebooks)
    cmats = []
    for s, cb in enumerate(codebooks):
        cb = sorted(cb, key=lambda c: int(c[0]))
        cmats.append(
            (
                np.array([int(c) for c, _ in cb], dtype=np.int64),
                np.array([[float(x) for x in cv] for _, cv in cb]),
            )
        )

    def encode_blocks(batches):
        for rb in batches:
            if not rb.num_rows:
                continue
            ids, vmat = _arrow_id_matrix(rb)
            out_id, out_s, out_code, out_err = [], [], [], []
            for s in range(n_sub):
                codes, cmat = cmats[s]
                sub = vmat[:, s * sub_dim : (s + 1) * sub_dim]
                d2 = np.zeros((len(ids), len(codes)))
                for k in range(sub_dim):
                    diff = sub[:, k : k + 1] - cmat[:, k][None, :]
                    d2 = d2 + diff * diff
                best = d2.argmin(axis=1)  # first min -> lowest code
                out_id.append(ids)
                out_s.append(np.full(len(ids), s, dtype=np.int32))
                out_code.append(codes[best].astype(np.int32))
                out_err.append(d2[np.arange(len(ids)), best])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_id)),
                    pa.array(np.concatenate(out_s), type=pa.int32()),
                    pa.array(np.concatenate(out_code), type=pa.int32()),
                    pa.array(np.concatenate(out_err)),
                ],
                names=["vec_id", "subspace", "code", "err2"],
            )

    return corpus.select(id_col, vec_col).mapInArrow(
        encode_blocks, schema="vec_id long, subspace int, code int, err2 double"
    )


def ivfpq_index(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ONE-pass IVF+PQ index build — the layout every billion-vector serving
    index uses (FAISS IndexIVFPQ; Jégou et al., TPAMI'11): per vector, the
    coarse cell (nearest centroid by cosine, ties to lowest cid — same
    kernel as ``_ivf_corpus_index``) AND the ``len(codebooks)`` PQ codes
    (nearest sub-centroid by squared L2, ties to lowest code — same kernel
    as ``pq_codes``), emitted as ``(vec_id, cell, subspace, code)``.

    Build is map-only (both codebooks ride the task closure; zero shuffle
    at any corpus size); at scale the output is written once
    ``partitionBy(cell)`` so serving prunes to nprobe cells at the storage
    layer and scores codes via a broadcast query-LUT — raw vectors are
    never read at serve time.  Bit-identical to running the two kernels
    separately (asserted in tests), so the composed index inherits both
    oracles' exactness.  Rides ``mapInArrow`` (buffer flatten/reshape,
    no pandas object detour — see ``_arrow_id_matrix``)."""
    import numpy as np
    import pyarrow as pa

    cents = sorted(centroids, key=lambda c: int(c[0]))
    cids = np.array([int(c) for c, _ in cents], dtype=np.int64)
    cmat = np.array([[float(x) for x in cv] for _, cv in cents])
    cnorms = np.array([_py_l2([float(x) for x in cv]) for _, cv in cents])
    dim = cmat.shape[1]
    n_sub = len(codebooks)
    sub_mats = []
    for cb in codebooks:
        cb = sorted(cb, key=lambda c: int(c[0]))
        sub_mats.append(
            (
                np.array([int(c) for c, _ in cb], dtype=np.int64),
                np.array([[float(x) for x in cv] for _, cv in cb]),
            )
        )

    def build_blocks(batches):
        for rb in batches:
            if not rb.num_rows:
                continue
            ids, vmat = _arrow_id_matrix(rb)
            # coarse cell: column-ordered cosine vs centroids
            acc = np.zeros((len(ids), len(cids)))
            for j in range(dim):
                acc = acc + vmat[:, j : j + 1] * cmat[:, j][None, :]
            vn = np.zeros(len(ids))
            for j in range(dim):
                vn = vn + vmat[:, j] * vmat[:, j]
            vn = np.sqrt(vn)
            denom = cnorms[None, :] * vn[:, None]
            zero = (cnorms[None, :] == 0.0) | (vn[:, None] == 0.0)
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = np.where(zero, 0.0, acc / np.where(zero, 1.0, denom))
            cell = cids[sim.argmax(axis=1)].astype(np.int32)
            # PQ codes: column-ordered squared L2 per subspace
            out_id, out_cell, out_s, out_code = [], [], [], []
            for s in range(n_sub):
                codes, scmat = sub_mats[s]
                sub = vmat[:, s * sub_dim : (s + 1) * sub_dim]
                d2 = np.zeros((len(ids), len(codes)))
                for k in range(sub_dim):
                    diff = sub[:, k : k + 1] - scmat[:, k][None, :]
                    d2 = d2 + diff * diff
                out_id.append(ids)
                out_cell.append(cell)
                out_s.append(np.full(len(ids), s, dtype=np.int32))
                out_code.append(codes[d2.argmin(axis=1)].astype(np.int32))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_id)),
                    pa.array(np.concatenate(out_cell), type=pa.int32()),
                    pa.array(np.concatenate(out_s), type=pa.int32()),
                    pa.array(np.concatenate(out_code), type=pa.int32()),
                ],
                names=["vec_id", "cell", "subspace", "code"],
            )

    return corpus.select(id_col, vec_col).mapInArrow(
        build_blocks, schema="vec_id long, cell int, subspace int, code int"
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98) of each query's exact top-``pool`` candidates: greedily pick
    ``k`` results maximizing

        lam * sim(q, c)  -  (1 - lam) * max_{s in selected} sim(c, s)

    — the diversity-aware serving stage of a retrieval pipeline (plain
    top-k returns near-duplicate neighbors; MMR spends the candidate
    budget on coverage).

    Output: ``(query_id, neighbor_id, mmr_rank, mmr_score)`` with
    ``mmr_rank`` 1..k in selection order; ``mmr_score`` is the round-6
    objective value at selection time (the first pick's score is
    ``lam * sim`` by convention — no diversity term yet).  Ties break to
    the lower neighbor id, so the output is fully determined.

    Scale: candidate generation is ``brute_force_topk`` (broadcast queries,
    single corpus scan — swap in ``ivf_topk`` upstream for huge corpora);
    the greedy selection is inherently sequential PER QUERY but independent
    ACROSS queries, so it runs as ``applyInPandas`` over query groups:
    state is one pool x dim matrix per group (tiny), and the shuffle moves
    only pool rows per query.  Greedy MMR has no closed relational form —
    this is the documented non-SQL-expressible exception (rows-only
    correctness check; exactness is pinned by unit tests instead).
    """
    if k <= 0 or pool < k:
        raise ValueError(f"need 0 < k <= pool, got {k=} {pool=}")
    id_type = dict(corpus.dtypes).get(id_col)
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        # the pandas kernel and its declared long output schema require
        # integral ids (same contract as cosine_pairs_gemm's int64 collect)
        raise ValueError(
            f"mmr_rerank requires an integral {id_col!r} column, got {id_type}"
        )
    cands = brute_force_topk(corpus, queries, k=pool, id_col=id_col, vec_col=vec_col)
    withvec = cands.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
        ),
        "neighbor_id",
    ).select("query_id", "neighbor_id", "sim", "nv")

    lam_f = float(lam)

    def _mmr(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(["neighbor_id"]).reset_index(drop=True)
        m = np.array([np.asarray(v, dtype=np.float64) for v in pdf["nv"]])
        norms = np.sqrt((m * m).sum(axis=1))
        norms[norms == 0.0] = 1.0
        unit = m / norms[:, None]
        cc = unit @ unit.T  # candidate-candidate cosine
        rel = pdf["sim"].to_numpy(dtype=np.float64)
        ids = pdf["neighbor_id"].to_numpy()
        n = len(ids)
        selected: list[int] = []
        out_rows = []
        avail = np.ones(n, dtype=bool)
        for rank in range(1, min(k, n) + 1):
            if selected:
                div = cc[:, selected].max(axis=1)
            else:
                div = np.zeros(n)
            score = lam_f * rel - (1.0 - lam_f) * div
            # ties -> lowest neighbor id: ids ascend by construction, and
            # argmax returns the first maximal index
            score[~avail] = -np.inf
            pick = int(np.argmax(score))
            avail[pick] = False
            selected.append(pick)
            out_rows.append(
                (int(pdf["query_id"].iloc[0]), int(ids[pick]), rank,
                 round(float(score[pick]), 6))
            )
        return pd.DataFrame(
            out_rows, columns=["query_id", "neighbor_id", "mmr_rank", "mmr_score"]
        )

    return withvec.groupBy("query_id").applyInPandas(
        _mmr, schema="query_id long, neighbor_id long, mmr_rank int, mmr_score double"
    )


def ivf_topk_from_index(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve ANN from a MATERIALIZED IVF index — the deployment shape
    ``ivf_topk``'s docstring promises: ``index`` is the
    ``_ivf_corpus_index`` output ``(neighbor_id, cvd, cn, cell)``, written
    out ``partitionBy("cell")`` and read back.  Each query's ``nprobe``
    closest cells are resolved DRIVER-side (the probe set is tiny by
    contract in every ANN path here) and applied as a LITERAL ``cell IN``
    filter, so a parquet cell-partitioned index prunes at the STORAGE
    layer — serving I/O is nprobe/n_cells of the index, and raw vectors
    are never read (the staged double vectors + norms ride the index).
    Scoring is the staged-cosine expression, bit-identical to the fused
    Arrow kernel in ``ivf_topk`` (asserted by sharing its oracle)."""
    probe_cells = F.transform(
        F.slice(
            F.reverse(
                F.array_sort(_centroid_scores(F.col("query_vec"), centroids))
            ),
            1,
            nprobe,
        ),
        lambda s: s["cid"],
    )
    probes = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
        )
        .withColumn("cell", F.explode(probe_cells))
        .withColumn("qvd", _d(F.col("query_vec")))
        .withColumn("qn", l2_norm(F.col("qvd")))
        .select("query_id", "cell", "qvd", "qn")
        .localCheckpoint(eager=True)
    )
    cells = [int(r["cell"]) for r in probes.select("cell").distinct().collect()]
    scored = (
        index.where(F.col("cell").isin(cells))  # literal -> partition pruning
        .join(F.broadcast(probes), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_staged(
                F.col("qvd"), F.col("cvd"), F.col("qn"), F.col("cn")
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


def ivf_knn_join(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    n_cells: int = 8,
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed approximate k-NN JOIN: top-k neighbors for EVERY query
    vector (default: the corpus itself) — the k-NN-graph primitive behind
    semantic clustering, graph-based dedup, and kNN-LM retrieval, where
    the query side is corpus-sized and the broadcast-probes serving path
    (:func:`ivf_topk`) cannot apply.

    Plan: both sides cell-assign MAP-SIDE via the literal-codebook
    expression (:func:`ivf_assign` arithmetic — bit-identical cells to
    every other IVF path); the query side explodes its ``nprobe`` closest
    cells.  The ONE real exchange pair is the equi-join on ``cell`` —
    candidate fan-out is sum over cells of |probes into cell| x |cell|,
    i.e. ~N·nprobe·N/n_cells instead of N² — then the staged-norm cosine
    scores candidates and WindowGroupLimit keeps k per query before the
    final rank shuffle.  At 100 TB: materialize the corpus side
    ``partitionBy(cell)`` once and the join co-locates by reading each
    cell's partition (storage-pruned); raise ``n_cells`` so cells bound
    candidate work — recall tunes with ``nprobe`` exactly as in serving.

    With ``nprobe == n_cells`` the result equals an exact all-pairs k-NN
    (every pair lands in some probed cell)."""
    if centroids is None:
        centroids = seed_centroids(corpus, n_cells, id_col, vec_col)
    if queries is None:
        queries = corpus
    c = (
        ivf_assign(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
            ),
            centroids,
            vec_col="cv",
        )
        .withColumn("cvd", _d(F.col("cv")))
        .withColumn("cn", l2_norm(F.col("cvd")))
        .drop("cv")
    )
    probe_cells = F.transform(
        F.slice(
            F.reverse(F.array_sort(_centroid_scores(F.col("qv"), centroids))),
            1,
            nprobe,
        ),
        lambda s: s["cid"],
    )
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("cell", F.explode(probe_cells))
        .withColumn("qvd", _d(F.col("qv")))
        .withColumn("qn", l2_norm(F.col("qvd")))
        .drop("qv")
    )
    scored = (
        q.join(c, "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            _cosine_staged(F.col("qvd"), F.col("cvd"), F.col("qn"), F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for each
    query (anchor), the ``k`` most cosine-similar corpus vectors whose
    LABEL DIFFERS — the near-the-margin negatives that make a triplet /
    InfoNCE batch informative, where random negatives are trivially easy
    (Schroff et al. FaceNet 2015 semi-hard mining, in corpus-batch
    form).

    Returns ``(query_id, neighbor_id, neighbor_label, sim, rank)``.

    Scale: identical shape to :func:`brute_force_topk` — the anchor set
    is broadcast, the corpus streams one map-side scan with the staged
    bit-stable cosine, and the label-mismatch predicate filters BEFORE
    the per-query WindowGroupLimit top-k, so positives never enter the
    rank state.  For web-scale anchor sets, feed candidates from
    :func:`ivf_topk` (over-fetched) through the same mismatch filter
    instead of broadcasting."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("qlabel"),
            F.col(vec_col).alias("qv"),
        )
        .withColumn("qvd", _d(F.col("qv")))
        .withColumn("qn", l2_norm(F.col("qvd")))
        .drop("qv")
    )
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("neighbor_label"),
            F.col(vec_col).alias("cv"),
        )
        .withColumn("cvd", _d(F.col("cv")))
        .withColumn("cn", l2_norm(F.col("cvd")))
        .drop("cv")
    )
    scored = c.join(
        q,
        (F.col("neighbor_id") != F.col("query_id"))
        & (F.col("neighbor_label") != F.col("qlabel")),
    ).withColumn(
        "sim",
        _cosine_staged(F.col("qvd"), F.col("cvd"), F.col("qn"), F.col("cn")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round("sim", 6).alias("sim"),
            "rank",
        )
    )


def _jl_matrix(in_dim: int, out_dim: int) -> list[list[int]]:
    """Deterministic Achlioptas-sparse JL matrix: entry (j, d) derives from
    md5("jl:j:d") mod 6 -> {+1 (0), -1 (1), 0 (2..5)} — density 1/3, the
    Achlioptas (2003) database-friendly construction, regenerable by ANY
    engine from the same public hash (the minhash/_affine_params
    discipline)."""
    import hashlib

    mat: list[list[int]] = []
    for d in range(out_dim):
        row = []
        for j in range(in_dim):
            h = int(hashlib.md5(f"jl:{j}:{d}".encode()).hexdigest()[:15], 16)
            m = h % 6
            row.append(1 if m == 0 else (-1 if m == 1 else 0))
        mat.append(row)
    return mat


def jl_project_quantized(
    df: DataFrame,
    out_dim: int = 16,
    scale: int = 1 << 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection to ``out_dim`` dims, made
    ENGINE-EXACT: float32 components quantize to integers first
    (``floor(x * 2^20)`` — the multiply is a pure exponent shift on a
    24-bit mantissa, so it is exact and both engines floor the same
    value), and each projected coordinate is an INTEGER dot with the
    deterministic ±1/0 Achlioptas matrix — an order-independent BIGINT
    sum, immune to the float-accumulation-order trap that makes naive
    random projections engine- and partition-dependent.

    Distance work downstream stays integer: squared L2 in projected
    space is an exact BIGINT, so top-k ranking is total-order
    deterministic (dist², id) — the property the recall report's oracle
    equality depends on.

    Returns ``(id, jl)`` with ``jl`` an ``array<long>`` of length
    ``out_dim``.  Scale: a pure map-side projection (out_dim in-order
    JVM folds per row); the matrix rides the plan as literals."""
    in_dim = len(df.select(vec_col).first()[0])
    mat = _jl_matrix(in_dim, out_dim)
    vq = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long"),
    )
    staged = df.select(F.col(id_col).alias("id"), vq.alias("vq"))
    # The projection expressions are built as ONE parsed SQL string instead
    # of nested Column ops: the matrix is out_dim x in_dim literals, and
    # driving each through F.lit/F.zip_with costs ~4 py4j round-trips per
    # literal — measured 5-7 s of pure driver time PER BUILD at 16x64
    # (r13; the parsed tree is identical, so results are byte-equal).
    rows = ", ".join(
        "aggregate(zip_with(vq, array({arr}), (x, r) -> x * CAST(r AS BIGINT)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)".format(
            arr=",".join(str(w) for w in mat[d])
        )
        for d in range(out_dim)
    )
    return staged.select("id", F.expr(f"array({rows})").alias("jl"))


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def jl_recall_report(
    df: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fidelity report for the JL projection: per probe, the overlap
    between the top-``k`` neighbors under projected squared-L2 and under
    FULL-dimension squared-L2 (both integer-exact over the quantized
    vectors, both ranked by the total order (dist², id)) — the
    measure-before-you-trust step for any dimensionality-reduced
    retrieval path.  Returns ``(query_id, n_overlap, recall)``.

    Scale: both rank passes are the broadcast-probe + WindowGroupLimit
    brute-force shape; the projected pass reads 16 longs per row
    instead of 64 floats — the bandwidth saving IS the point of JL."""
    from presto_ethereum_spark.operators.dedup import recall_report, round6_ratio

    vq_full = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(
                x.cast("double") * F.lit(float(1 << 20))
            ).cast("long"),
        ).alias("v"),
    )
    jl = jl_project_quantized(df, out_dim=out_dim, id_col=id_col,
                              vec_col=vec_col).withColumnRenamed("jl", "v")

    def topk(space: DataFrame) -> DataFrame:
        q = F.broadcast(
            space.where(F.col("id") < n_queries).select(
                F.col("id").alias("query_id"), F.col("v").alias("qv")
            )
        )
        scored = space.join(q, F.col("id") != F.col("query_id")).select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            _l2sq(F.col("qv"), F.col("v")).alias("d2"),
        )
        w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
        return scored.withColumn("r", F.row_number().over(w)).where(F.col("r") <= k)

    rep = recall_report(
        topk(vq_full), topk(jl), ["query_id", "neighbor_id"], ["query_id"]
    )
    return rep.select(
        "query_id",
        F.col("n_hits").alias("n_overlap"),
        round6_ratio(F.col("n_hits"), F.lit(k)).alias("recall"),
    )


def jl_rerank_topk(
    df: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    prefilter_k: int = 50,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval: a cheap JL-projected squared-L2 PREFILTER
    keeps ``prefilter_k`` candidates per probe, then the exact
    full-dimension metric reranks just those to the final top-``k`` —
    the coarse-filter/exact-rerank serving pattern (the third ANN
    family next to IVF's partition pruning and PQ's compressed
    distances): stage 1 reads 16 longs/row over the corpus, stage 2
    reads full vectors for prefilter_k rows per probe only.

    Everything is integer-exact (quantized vectors, BIGINT distances,
    (d2, id) total orders), so the output is engine-deterministic; the
    ``in_exact_topk`` flag self-reports whether each returned neighbor
    is also in the true full-scan top-k — the per-row recall evidence
    that the prefilter width is (or is not) wide enough.

    Returns ``(query_id, neighbor_id, d2, rank, in_exact_topk)``."""
    vq_full = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(
                x.cast("double") * F.lit(float(1 << 20))
            ).cast("long"),
        ).alias("v"),
    ).localCheckpoint(eager=True)
    jl = jl_project_quantized(df, out_dim=out_dim, id_col=id_col,
                              vec_col=vec_col)
    qjl = F.broadcast(
        jl.where(F.col("id") < n_queries).select(
            F.col("id").alias("query_id"), F.col("jl").alias("qv")
        )
    )
    stage1 = (
        jl.join(qjl, F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            _l2sq(F.col("qv"), F.col("jl")).alias("pd2"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy("pd2", "neighbor_id")
    cand = (
        stage1.withColumn("r1", F.row_number().over(w1))
        .where(F.col("r1") <= prefilter_k)
        .select("query_id", "neighbor_id")
    )
    qfull = F.broadcast(
        vq_full.where(F.col("id") < n_queries).select(
            F.col("id").alias("query_id"), F.col("v").alias("qv")
        )
    )
    rerank = (
        cand.join(vq_full, cand["neighbor_id"] == vq_full["id"])
        .join(qfull, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _l2sq(F.col("qv"), F.col("v")).alias("d2"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    top = rerank.withColumn("rank", F.row_number().over(w2)).where(
        F.col("rank") <= k
    )
    # exact truth for the self-report flag
    exact = (
        vq_full.join(qfull, F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            _l2sq(F.col("qv"), F.col("v")).alias("ed2"),
        )
        .withColumn(
            "er",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("ed2", "neighbor_id")
            ),
        )
        .where(F.col("er") <= k)
        .select("query_id", "neighbor_id", F.lit(True).alias("in_exact_topk"))
    )
    return (
        top.join(exact, ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            "neighbor_id",
            F.col("d2").cast("long").alias("d2"),
            F.col("rank").cast("int").alias("rank"),
            F.coalesce(F.col("in_exact_topk"), F.lit(False)).alias(
                "in_exact_topk"
            ),
        )
    )


def _recall_vs_budget(
    approx: DataFrame,
    truth: DataFrame,
    session,
    budget_col: str,
    budget_max: int,
) -> DataFrame:
    """Shared tail of the recall-vs-budget tuning curves: per budget level,
    hit count against ``truth`` and recall = n_hits / n_truth.  ``truth``
    is probe-set-sized (|queries| x k) by construction, so the semi-join,
    the budget-level hit table, and the spine all broadcast — the
    candidate side never shuffles into a sort-merge against scaffolding-
    sized tables."""
    n_truth = truth.groupBy().agg(F.count("*").alias("n_truth"))
    hits = (
        approx.join(
            F.broadcast(truth), ["query_id", "neighbor_id"], "left_semi"
        )
        .groupBy(budget_col)
        .agg(F.count("*").alias("n"))
    )
    spine = session.range(1, budget_max + 1).select(
        F.col("id").cast("int").alias(budget_col)
    )
    return (
        spine.join(F.broadcast(hits), budget_col, "left")
        .crossJoin(F.broadcast(n_truth))
        .select(
            budget_col,
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_hits"),
            F.col("n_truth").cast("bigint").alias("n_truth"),
            (
                F.coalesce("n", F.lit(0)).cast("double")
                / F.col("n_truth").cast("double")
            ).alias("recall_at_k"),
        )
    )


def ivf_probe_curve(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k vs ``nprobe`` tuning curve for an IVF index, from ONE pass
    of the corpus — the measurement every IVF deployment runs to pick its
    probe budget (recall rises with nprobe, serving cost rises linearly;
    the curve is where the trade is read off), computed for ALL nprobe
    levels 1..n_cells at once instead of one serve pass per level.

    One-pass trick: a candidate enters the nprobe=p result set iff the
    cell rank of ITS cell in the query's centroid ranking (``crank``) is
    <= p, so each scored candidate explodes into rows for p = crank ..
    n_cells and a single window per (query, p) takes top-k.  Scale: the
    corpus is scanned once (cell assignment is the same map-side literal
    codebook as :func:`ivf_assign`, queries broadcast); the explode
    multiplies only the probe-set candidates (|queries| x corpus x <=
    n_cells rows), and the probe set is sampled-small by construction —
    recall estimation never needs every query.  Truth is
    :func:`brute_force_topk` on the same probe set.

    Reference anchor: the nprobe knob of any IVF index (FAISS `nprobe`);
    the curve op itself follows doc_jaccard_threshold_curve's
    one-pass-per-candidate-threshold design."""
    n_cells = len(centroids)
    assigned = ivf_assign(corpus, centroids, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "cell"
    )
    scored = _centroid_scores(F.col(vec_col), centroids)
    qr = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            _d(F.col(vec_col)).alias("qvd"),
            l2_norm(F.col(vec_col)).alias("qn"),
            F.posexplode(F.reverse(F.array_sort(scored))).alias("pos", "sc"),
        ).select(
            "query_id",
            "qvd",
            "qn",
            (F.col("pos") + 1).alias("crank"),
            F.col("sc.cid").alias("cid"),
        )
    )
    cand = (
        assigned.withColumn("cvd", _d(F.col("cv")))
        .withColumn("cn", l2_norm(F.col("cvd")))
        .join(qr, F.col("cell") == F.col("cid"))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "crank",
            _cosine_staged(
                F.col("qvd"), F.col("cvd"), F.col("qn"), F.col("cn")
            ).alias("sim"),
        )
    )
    expanded = cand.select(
        "query_id",
        "neighbor_id",
        "sim",
        F.explode(F.sequence("crank", F.lit(n_cells))).alias("nprobe"),
    )
    w = Window.partitionBy("query_id", "nprobe").orderBy(
        F.desc("sim"), "neighbor_id"
    )
    approx = (
        expanded.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("nprobe", "query_id", "neighbor_id")
    )
    truth = brute_force_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    return _recall_vs_budget(
        approx, truth, corpus.sparkSession, "nprobe", n_cells
    )


def lsh_band_curve(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    bands: int = 4,
    bits: int = 24,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k vs band budget for the hyperplane-LSH index, from ONE
    candidate pass — the LSH member of the tuning-curve family
    (doc_jaccard_threshold_curve: dedup threshold; ivf_probe_curve:
    nprobe; this: how many bands the index needs).  More bands = more
    candidate unions = higher recall and bigger (band, key) exchanges;
    the curve is where that trade is read off.

    One-pass trick: a pair is a candidate under a budget of ``b`` bands
    iff its FIRST matching band index < b, so candidates are generated
    once from the full ``bands``-band join, ``min_band`` is recovered
    from the two signatures as a constant-size CASE chain (no per-budget
    re-join), and each candidate explodes into rows for budgets
    min_band+1 .. bands before one window takes top-k per (query,
    budget).  Truth is :func:`brute_force_topk` on the same probe set,
    restricted to queries whose ids exist in the corpus (the curve
    measures the index over its own members; an external query id is
    excluded from both sides rather than scored as a silent miss).

    Scale: signatures are the same one-Arrow-pass kernel the serving
    path uses; the only corpus exchange is the (band, key) join already
    bounded by bucket sizes; the explode multiplies candidates of the
    sampled probe set only."""
    width = bits // bands
    # the signature index feeds FOUR subtrees (both sides of the band
    # join, the query staging, the neighbor staging); materialize the one
    # Arrow kernel pass instead of re-running it per subtree.  persist
    # (recomputable lineage) over localCheckpoint (unreplicated local
    # blocks — an executor loss after materialization would kill the
    # query on a real cluster).  At production scale the signature index
    # is a persisted table anyway (same contract as the materialized IVF
    # index).
    from pyspark import StorageLevel

    idx = _lsh_index_kernel(corpus, dim, bits, id_col, vec_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bandkeys = F.posexplode(
        F.array(
            *[
                F.shiftright(F.col("sig"), b * width).bitwiseAND(
                    F.lit((1 << width) - 1)
                )
                for b in range(bands)
            ]
        )
    ).alias("band", "key")
    banded = idx.select("id", bandkeys)
    qids = F.broadcast(
        queries.select(F.col(id_col).alias("id")).distinct()
    )
    qbanded = banded.join(qids, "id", "left_semi").select(
        F.col("id").alias("query_id"), "band", "key"
    )
    cand = (
        F.broadcast(qbanded)
        .join(banded, ["band", "key"])
        .where(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("neighbor_id"))
        .distinct()
    )
    qidx = F.broadcast(
        idx.join(qids, "id", "left_semi").select(
            F.col("id").alias("query_id"),
            F.col("sig").alias("qsig"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
        )
    )
    nidx = idx.select(
        F.col("id").alias("neighbor_id"),
        F.col("sig").alias("nsig"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nn"),
    )
    mask = (1 << width) - 1
    min_band = None
    for b in range(bands - 1, -1, -1):
        match_b = F.shiftright(F.col("qsig"), b * width).bitwiseAND(
            F.lit(mask)
        ) == F.shiftright(F.col("nsig"), b * width).bitwiseAND(F.lit(mask))
        min_band = (
            F.when(match_b, b)
            if min_band is None
            else F.when(match_b, b).otherwise(min_band)
        )
    scored = (
        cand.join(nidx, "neighbor_id")
        .join(qidx, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            min_band.alias("min_band"),
            _cosine_staged(
                F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn")
            ).alias("sim"),
        )
    )
    expanded = scored.select(
        "query_id",
        "neighbor_id",
        "sim",
        F.explode(
            F.sequence(F.col("min_band") + 1, F.lit(bands))
        ).alias("n_bands"),
    )
    w = Window.partitionBy("query_id", "n_bands").orderBy(
        F.desc("sim"), "neighbor_id"
    )
    approx = (
        expanded.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("n_bands", "query_id", "neighbor_id")
    )
    # the approx side only sees queries whose ids exist in the corpus
    # index; restrict the probe set to the same ids BEFORE the truth
    # scan, so an out-of-corpus query drops from BOTH numerator and
    # denominator (instead of silently reading as recall 0) and never
    # pays a brute-force corpus pass just to be discarded
    q_in = queries.join(
        F.broadcast(
            qidx.select(F.col("query_id").alias(id_col)).distinct()
        ),
        id_col,
        "left_semi",
    )
    truth = brute_force_topk(
        corpus, q_in, k=k, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    return _recall_vs_budget(
        approx, truth, corpus.sparkSession, "n_bands", bands
    )


def codebook_drift(
    df: DataFrame,
    seeds: list[tuple[int, list[float]]],
    refined: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell assignment churn between two codebooks — the
    index-maintenance diagnostic that decides WHEN to rebuild/re-partition
    an IVF index: refine the codebook (or ingest a new corpus snapshot),
    measure what fraction of each cell's members would move, and rebuild
    only when churn justifies rewriting the cell-partitioned layout
    (emb_ivf_materialized_serve's storage contract).  Complements
    emb_ivf_recall_refined (is the NEW codebook better?) with the cost
    side (how much data must MOVE to adopt it?).

    Plan: ONE map-side pass scores both literal codebooks per row (the
    same staged fold as :func:`ivf_assign`, twice) — zero corpus shuffle;
    the only exchange is the n_cells-row conditional-count groupBy.
    churn_e6 is half-up integer micro-units with DECIMAL(38,0) products
    (cell populations at crawl scale overflow int64 in 2*n*1e6)."""
    cell0 = F.array_max(_centroid_scores(F.col(vec_col), seeds))["cid"]
    cell1 = F.array_max(_centroid_scores(F.col(vec_col), refined))["cid"]
    both = df.select(
        cell0.alias("cell_seed"), cell1.alias("cell_refined")
    )
    return (
        both.groupBy(F.col("cell_seed").alias("cell"))
        .agg(
            F.count("*").alias("n_seed"),
            F.sum(
                F.when(F.col("cell_refined") == F.col("cell_seed"), 1).otherwise(0)
            ).alias("n_stayed"),
            F.sum(
                F.when(F.col("cell_refined") != F.col("cell_seed"), 1).otherwise(0)
            ).alias("n_moved"),
        )
        .select(
            F.col("cell").cast("int").alias("cell"),
            F.col("n_seed").cast("bigint").alias("n_seed"),
            F.col("n_stayed").cast("bigint").alias("n_stayed"),
            F.col("n_moved").cast("bigint").alias("n_moved"),
            F.expr(
                "CAST((2 * CAST(n_moved AS DECIMAL(38,0)) * 1000000 + n_seed)"
                " div (2 * CAST(n_seed AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("churn_e6"),
        )
    )
