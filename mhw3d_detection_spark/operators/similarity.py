"""Vector-similarity operators over embedding columns (SURVEY.md §2.11
E3, beyond-reference): brute-force cosine top-k as the correctness
baseline, and a bucketed (IVF-style) variant as the 100 TB scale path.

The dot product stays JVM-side: ``aggregate(zip_with(a, b, *), +)`` on
``array<double>`` columns — no Python UDF, whole-stage codegen'd.
Embeddings are cast float→double up front so results are reproducible
across engines (the DuckDB oracle computes in double too).

Scale notes: brute force is a broadcast of the (small) probe set
against a full scan of the corpus — one narrow stage + a per-probe
top-k (`row_number <= k`), no all-pairs shuffle. The IVF variant
equi-joins probe and corpus on the coarse cell id first, cutting the
scanned fraction to 1/n_cells; at real scale cell ids come from a
trained quantizer — here the pre-assigned ``label`` column plays that
role (the plumbing, partitioning and join shape are identical).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def md5_order_cap(df: DataFrame, id_col: str, n: int) -> DataFrame:
    """The ONE copy of the deterministic probe/panel cap: keep at most
    ``n`` rows by md5-order rank over ``id_col`` (a two-phase
    TakeOrdered — uniform, replayable across engines/reruns/reshards).
    Shared by ``cosine_topk(max_probes=...)`` and
    ``mutual_nn_pairs(max_panel=...)`` so the replayability-critical
    ordering key can never drift between call sites (r11 review)."""
    return df.orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    ).limit(int(n))


def cosine_topk(
    emb: DataFrame,
    probe_pred,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str | None = None,
    label_col: str | None = None,
    cross_label_only: bool = False,
    max_probes: int | None = None,
) -> DataFrame:
    """Top-k cosine neighbors for each probe (probe_pred selects probe
    ids). ``bucket_col`` switches brute-force → IVF: candidates must
    share the probe's bucket (coarse cell). ``label_col`` +
    ``cross_label_only=True`` restricts candidates to DIFFERENT-label
    rows — the hard-negative mining shape (for each anchor, the most
    similar items that are NOT its class: the negatives contrastive
    training learns the most from).

    ``max_probes`` makes the constant-panel production contract
    ENFORCEABLE (the edit-verify ``max_len`` pattern, r11): when set,
    the probe side is deterministically capped to at most that many
    vectors by md5-order rank (a two-phase TakeOrdered — uniform,
    replayable across engines/reruns/reshards), so the broadcast
    probe table and the |corpus| x |probes| compare work are bounded
    regardless of what fraction ``probe_pred`` matches. The declared
    sf1 exponents of the brute rows (q_similarity_topk 1.90,
    q_retrieval_map 1.63, q_mutual_nn 1.48) are exactly what this
    parameter caps in production."""
    base = emb.select(
        F.col(id_col).alias("vec_id"),
        as_double(F.col(vec_col)).alias("v"),
        *([F.col(bucket_col).alias("bucket")] if bucket_col else []),
        *([F.col(label_col).alias("__lab")] if label_col else []),
    ).withColumn("n", norm(F.col("v")))
    probe_base = base.filter(probe_pred(F.col("vec_id")))
    if max_probes is not None:
        probe_base = md5_order_cap(probe_base, "vec_id", max_probes)
    probes = probe_base.select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("n").alias("pn"),
        *([F.col("bucket")] if bucket_col else []),
        *([F.col("__lab").alias("__plab")] if label_col else []),
    )
    if bucket_col:
        j = base.join(F.broadcast(probes), on="bucket", how="inner")
    else:
        j = base.crossJoin(F.broadcast(probes))
    j = j.filter(
        (F.col("vec_id") != F.col("probe_id")) & (F.col("n") > 0) & (F.col("pn") > 0)
    )
    if cross_label_only:
        if label_col is None:
            raise ValueError("cross_label_only requires label_col")
        j = j.filter(F.col("__lab") != F.col("__plab"))
    j = j.withColumn("cosine", dot(F.col("v"), F.col("pv")) / (F.col("n") * F.col("pn")))
    scored = j.select("probe_id", "vec_id", "cosine")

    # Two-phase salted top-k: a single window partitioned by probe_id
    # alone funnels EVERY scored candidate into n_probes partitions —
    # catastrophic skew when probes are few and the corpus is 100 TB.
    # Phase 1 ranks within (probe, salt) — corpus-wide parallelism,
    # keeps <= k per salt; phase 2 ranks the surviving
    # n_probes x SALTS x k rows. Identical output, no hot partition.
    SALTS = 64
    salt = F.pmod(F.hash("vec_id"), F.lit(SALTS))
    w1 = Window.partitionBy("probe_id", "__salt").orderBy(
        F.desc("cosine"), F.col("vec_id")
    )
    pruned = (
        scored.withColumn("__salt", salt)
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
    )
    w2 = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cosine", F.col("rank").cast("int").alias("rank"))
    )


def _q6(x: float) -> float:
    """Dyadic centroid quantization — the Python twin of
    ``queries/base.py:rq`` at d=6 (same IEEE ops, same
    boundary-absorbing 2^-16 nudge, so identical input bits give
    identical output bits in Python, Spark and DuckDB). Centroid means
    are quantized to this grid after every Lloyd's round: double
    summation ORDER differs between engines (Spark merges partial avgs
    in shuffle-fetch order; DuckDB sums in scan order; NumPy pairwise),
    so raw means carry ~1e-13 order noise — harmless numerically, but
    the downstream bucket assignment is compared EXACTLY across
    engines, and an unquantized near-tie vector could bucket
    differently. Quantizing the centroids (the only cross-engine float
    boundary in the loop) makes every subsequent round bit-identical
    by induction."""
    import math

    return math.floor(x * 1000000.0 + (0.5 + 2.0**-16)) / 1000000.0


def _kmeans_seeds(base: DataFrame, k: int) -> DataFrame:
    """Deterministic k-means init: the k smallest ids' vectors, via
    ``orderBy().limit(k)`` — plans as TakeOrderedAndProject
    (per-partition top-k + driver merge of k-row heads), so the corpus
    never funnels through one partition."""
    return base.orderBy("vec_id").limit(k)


def _assign_bucket_expr(
    cents: list[tuple[int, list[float]]], vec: Column
) -> Column:
    """Nearest-centroid id for the (double) vector column against
    LITERAL centroids: an array of (squared-distance, bucket) structs
    reduced by ``array_min`` (lexicographic struct order == ORDER BY
    d2, bucket). Entirely narrow — no join, no window, no shuffle; the
    assignment streams at scan speed, which is the shape a 100 TB
    final-assign pass needs."""
    if not cents:
        # array_min over zero structs would fail deep in analysis with
        # an opaque type error — surface the real problem instead
        raise ValueError(
            "no centroids to assign against (empty training corpus or "
            "an empty seeded sample — raise sample_fraction)"
        )
    structs = [
        F.struct(
            F.aggregate(
                F.zip_with(vec, F.lit(c), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            F.lit(int(b)).alias("b"),
        )
        for b, c in cents
    ]
    return F.array_min(F.array(*structs))["b"]


def kmeans_ivf_centroids(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> list[tuple[int, list[float]]]:
    """Train an IVF coarse quantizer with Lloyd's k-means: the driver
    holds the k x dim centroids (tiny), the cluster does the per-row
    work — the textbook iterative-algorithm split.

    Deterministic: centroids init from the k smallest ids
    (:func:`_kmeans_seeds`). Each iteration runs eagerly: assign via
    the narrow literal-argmin expression (no join/window/shuffle), then
    ONE hash aggregate on (bucket, dim) — map-side combine leaves
    k x dim rows to shuffle regardless of corpus size — collected to
    the driver (k x dim doubles). Eager per-iteration execution keeps
    every plan shallow (a lazily nested train would re-analyze a plan
    that doubles per round) and lets the input cache be released before
    returning: nothing persisted outlives this call.

    ``sample_fraction`` is the 100 TB path: the loop trains on a seeded
    sample (only the sample is cached and rescanned per iteration); the
    full corpus pays nothing here — the caller's final assign is a
    narrow map. An empty cluster drops out of the returned list (same
    as the reference Lloyd's shape).

    Returns ``[(bucket, centroid_vector), ...]`` sorted by bucket.
    """
    full = emb.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    )
    base = (
        full.sample(fraction=sample_fraction, seed=42)
        if sample_fraction is not None
        else full
    ).persist()
    try:
        seeds = sorted(
            _kmeans_seeds(base, k).collect(), key=lambda r: r["vec_id"]
        )
        cents = [(i, [float(x) for x in r["v"]]) for i, r in enumerate(seeds)]
        for _ in range(iters):
            # same literal-vs-arrow switch as assign_buckets: the
            # training iterations run this over the (sampled) corpus,
            # so large k needs the matmul kernel here too
            if k > LITERAL_ASSIGN_MAX_K:
                assigned = _assign_buckets_arrow(
                    base.select("v"), cents, "v"
                )
            else:
                assigned = base.select(
                    "v", _assign_bucket_expr(cents, F.col("v")).alias("bucket")
                )
            rows = (
                assigned.select("bucket", F.posexplode("v").alias("dim", "x"))
                .groupBy("bucket", "dim")
                .agg(F.avg("x").alias("m"))
                .collect()
            )
            by_bucket: dict[int, dict[int, float]] = {}
            for r in rows:
                by_bucket.setdefault(r["bucket"], {})[r["dim"]] = r["m"]
            # quantize each round's means (see _q6): kills cross-engine
            # and run-to-run summation-order bit drift at the one float
            # boundary the exact-assignment oracle depends on
            cents = [
                (b, [_q6(dims[i]) for i in sorted(dims)])
                for b, dims in sorted(by_bucket.items())
            ]
    finally:
        base.unpersist()
    return cents


#: the literal-vs-Arrow assign switch point. Since the r7 sweep this is
#: a REPRODUCIBILITY boundary, not a performance one: best-of-3 at
#: 40k×64-dim rows measured the Arrow matmul kernel at parity-or-faster
#: from k=4 on (k=4: 0.59 vs 0.46 s; k=8: 0.81 vs 0.41; k=16: 1.29 vs
#: 0.34; k=64: 5.7 vs 0.5 — see docs/PLANS.md), and the literal tree's
#: interpreter cost grows with k while Arrow stays flat. The literal
#: expression is kept through k=8 — the largest k any DuckDB-oracle row
#: uses — because it is the only path whose distance fold is
#: bit-reproducible cross-engine (_KMEANS_SQL replays it exactly);
#: everything larger takes the kernel.
LITERAL_ASSIGN_MAX_K = 8


def _assign_buckets_arrow(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str,
) -> DataFrame:
    """Large-k assign: one Arrow-batched ``mapInPandas`` kernel holding
    the k × dim centroid matrix, computing every row's nearest centroid
    as a single numpy matmul + argmin per batch. Still a narrow map —
    one scan, zero shuffles, centroids ride along as task closure — but
    linear in k with BLAS constants instead of a k-term expression
    tree, so k = 50 000 (SemDeDup's LAION setting) is a few hundred MB
    of matmul per 10k-row batch, not an unanalyzable plan.

    Distance rounding differs from the literal fold (numpy pairwise
    summation + the dropped ||x||² term vs a sequential zip_with fold),
    so assignments can differ from :func:`assign_buckets` on NEAR-ties
    — centroid pairs whose distances agree to within the accumulated
    rounding (~ulp-level), not just exact ties. Vanishingly rare for
    real embeddings but NOT bit-reproducible against the SQL oracle,
    which is why ``_KMEANS_SQL`` refuses k above the switch point: the
    cross-engine gate stays on the literal expression (small k)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import IntegerType, StructField, StructType

    # sort by bucket id so argmin's first-minimum tie-break matches the
    # literal path's smallest-bucket-wins rule for any caller-supplied
    # centroid order (assign_buckets is public API; don't assume sorted)
    cents = sorted(cents, key=lambda t: t[0])
    C = np.array([c for _, c in cents], dtype=np.float64)  # k x dim
    B = np.array([b for b, _ in cents], dtype=np.int64)  # sorted by bucket
    cn = (C * C).sum(axis=1)  # ||c||^2, the x-independent term

    # NOT schema.add(): that MUTATES the frame's cached StructType (the
    # frame then claims a bucket column the JVM plan doesn't have)
    out_schema = StructType(
        list(emb.schema.fields) + [StructField("bucket", IntegerType(), False)]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(bucket=pd.Series([], dtype="int32"))
                continue
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            # argmin_c ||x-c||^2 == argmin_c (||c||^2 - 2 x.c); argmin
            # takes the FIRST minimum and C is sorted by bucket id —
            # the same smallest-bucket tie-break as the struct order
            d = cn[None, :] - 2.0 * (X @ C.T)
            yield pdf.assign(bucket=B[np.argmin(d, axis=1)].astype("int32"))

    return emb.mapInPandas(kernel, schema=out_schema)


def assign_buckets(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Tag every row with its nearest trained centroid. Keeps all input
    columns and adds ``bucket``. Both paths are narrow maps (one corpus
    scan, zero shuffles): up to ``LITERAL_ASSIGN_MAX_K`` centroids the
    assignment is the bit-exact literal-argmin expression (the oracle
    path); beyond that the Arrow-batched matmul kernel
    (:func:`_assign_buckets_arrow`) — the 100 TB path for SemDeDup-size
    k, where a k-term expression tree is unanalyzable."""
    if len(cents) > LITERAL_ASSIGN_MAX_K:
        return _assign_buckets_arrow(emb, cents, vec_col)
    return emb.withColumn(
        "bucket", _assign_bucket_expr(cents, as_double(F.col(vec_col)))
    )


def kmeans_ivf_train(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> DataFrame:
    """Train + assign: Lloyd's k-means (:func:`kmeans_ivf_centroids`)
    followed by the narrow full-corpus assign. Returns
    ``(vec_id, bucket)``. The returned plan has no cached or iterative
    dependencies — the training cache is released before this returns."""
    cents = kmeans_ivf_centroids(
        emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        sample_fraction=sample_fraction,
    )
    return assign_buckets(emb, cents, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("vec_id"), "bucket"
    )


def bucket_near_dup_pairs(
    tagged: DataFrame,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Within-bucket embedding near-dup pairs: a self-equi-join on the
    coarse-cell id (never all-pairs — the cluster assignment bounds the
    candidate set, the SemDeDup trick), exact cosine >= threshold on
    the survivors. Returns ``(doc_a, doc_b)`` with ``doc_a < doc_b``.

    Scale: the join shuffles on the bucket key; per-bucket pair count
    is (n/k)^2/2, so k is the knob that keeps the quadratic term local
    (SemDeDup used k = 50 000 on LAION — cells of ~1e4 rows). k is a
    PRE-clustering choice, though, and a skewed embedding space can
    dump an arbitrary fraction of the corpus into one cell no matter
    how k was sized — ``max_bucket_size`` is the backstop: any bucket
    over the cap is salted into ``ceil(size/cap)`` hash sub-buckets and
    pairs form within (bucket, sub) only, so the quadratic term is
    bounded by ~cap²/2 per sub-task regardless of skew. Cross-sub pairs
    inside an oversized cell are forgone — the same recall trade
    SemDeDup itself makes by raising k (more, smaller cells); dedup
    recall degrades gracefully, correctness of emitted pairs does not
    (every emitted pair still passes the exact-cosine verify). The
    size table is one hash aggregate of k rows joined back broadcast —
    no collect, no skew-sensitive stage of its own. Default None keeps
    the exact within-cluster semantics (and the oracle rows) unchanged.
    """
    base = tagged.select(
        F.col(id_col).alias("vec_id"),
        as_double(F.col(vec_col)).alias("v"),
        F.col(bucket_col).alias("bucket"),
    ).withColumn("n", norm(F.col("v")))
    join_keys = ["bucket"]
    if max_bucket_size is not None:
        cap = int(max_bucket_size)
        sizes = base.groupBy("bucket").agg(F.count(F.lit(1)).alias("__cnt"))
        base = (
            base.join(F.broadcast(sizes), "bucket")
            .withColumn(
                "__nsub",
                F.ceil(F.col("__cnt") / F.lit(cap)).cast("int"),
            )
            .withColumn(
                "__sub",
                F.when(F.col("__nsub") <= 1, F.lit(0)).otherwise(
                    F.pmod(F.xxhash64(F.col("vec_id")), F.col("__nsub"))
                    .cast("int")
                ),
            )
            .drop("__cnt", "__nsub")
        )
        join_keys = ["bucket", "__sub"]
    a = base.select(
        F.col("vec_id").alias("doc_a"), F.col("v").alias("va"),
        F.col("n").alias("na"), *join_keys,
    )
    b = base.select(
        F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"), *join_keys,
    )
    return (
        a.join(b, join_keys)
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("na") > 0)
            & (F.col("nb") > 0)
        )
        .withColumn(
            "cosine", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b")
    )


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.2,
    cc_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
    broadcast_drops: bool = True,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) as DataFrame ops:
    k-means clusters the embedding space (:func:`kmeans_ivf_centroids`,
    deterministic trainer), each document is tagged by the narrow
    literal-argmin assign, near-dup candidates are WITHIN-cluster pairs
    only (:func:`bucket_near_dup_pairs` — the quadratic term stays
    cluster-local), pairs above the cosine threshold form a graph whose
    connected components are semantic-duplicate groups, and the min-id
    member of each group survives. Returns the surviving corpus as
    ``(vec_id, bucket)``.

    Every stage is an already-verified operator: the trainer's
    quantized rounds give exact cross-engine assignments and min-label
    propagation is integer-exact.

    Sizing at corpus scale (the paper's regime is k ∝ corpus — cells of
    ~1e4 rows; k=8 here fits the bench SF, not 100 TB): raise ``k`` so
    the AVERAGE cell is ~1e4 rows, and set ``max_cluster_size`` as the
    skew backstop — it salts any cell that still ends up oversized into
    capped hash sub-cells, so the within-cluster quadratic term is
    bounded by the cap, not by the skew of the embedding space (see
    :func:`bucket_near_dup_pairs` for the recall trade).

    ``broadcast_drops`` gates the final anti join: the drop list
    is dup-count-sized — tiny at low dup rates, CORPUS-sized at high
    ones (a 50 %-dup crawl drops half the corpus). True ships it to
    every task; False takes the plain shuffling left-anti join, the
    right plan once the drop list stops fitting in an executor.
    """
    from mhw3d_detection_spark.operators.textops import (
        connected_components_bounded,
    )

    cents = kmeans_ivf_centroids(
        emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    tagged = assign_buckets(emb, cents, id_col=id_col, vec_col=vec_col)
    pairs = bucket_near_dup_pairs(
        tagged,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        max_bucket_size=max_cluster_size,
    )
    comp = connected_components_bounded(pairs, iters=cc_iters, truncate=True)
    drops = comp.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    d = F.broadcast(drops) if broadcast_drops else drops
    return tagged.join(d, id_col, "left_anti").select(
        F.col(id_col).alias("vec_id"), "bucket"
    )


def rhp_signs(n_bits: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 random-hyperplane matrix (n_bits x dim), derived
    from md5 so the identical literal matrix is embeddable in the DuckDB
    oracle. Sign-LSH (SimHash for vectors, Charikar 2002): for unit-ish
    vectors, P[sign(w·a) == sign(w·b)] = 1 - angle(a,b)/pi — so cosine
    near-dups collide on banded sign bits."""
    import hashlib

    out = []
    for j in range(n_bits):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"rhp:{j}:{i}".encode()).digest()[0]
            row.append(1.0 if h % 2 == 0 else -1.0)
        out.append(row)
    return out


def embedding_lsh_pairs(
    emb: DataFrame,
    threshold: float = 0.2,
    n_bits: int = 24,
    band_size: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup pairs at scale: random-hyperplane sign
    signatures, banded like MinHash-LSH — candidates are pairs colliding
    on any (band, sign-pattern) bucket, verified by exact cosine.

    The plan is the 100 TB shape: signature projection is a narrow
    per-row map (n_bits JVM dot products against literal ±1 rows);
    the candidate join shuffles on the bucket key, never all-pairs;
    only the (tiny) candidate set pays the exact-cosine verify. This is
    the bucketed replacement for the probe-bounded
    :func:`embedding_near_dup_pairs` baseline.
    """
    signs = rhp_signs(n_bits, dim)
    base = emb.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    ).withColumn("n", norm(F.col("v")))
    # one batched projection (not n_bits chained withColumns — each is a
    # Py4J/analysis round trip; see the plan-memo note in queries/base.py)
    base = base.select(
        "*",
        *[
            (dot(F.col("v"), F.lit(signs[j])) >= 0).cast("int").alias(f"__b{j}")
            for j in range(n_bits)
        ],
    )
    n_bands = n_bits // band_size

    def band_sig(b: int):
        s = F.lit(0)
        for j in range(band_size):
            s = s + F.col(f"__b{b * band_size + j}") * F.lit(
                1 << (band_size - 1 - j)
            )
        return s

    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                band_sig(b).cast("int").alias("band_sig"),
            )
            for b in range(n_bands)
        ]
    )
    sig = base.select(
        "vec_id", "v", "n", F.explode(bands).alias("bb")
    ).select("vec_id", "v", "n", F.col("bb.band_id").alias("band_id"), F.col("bb.band_sig").alias("band_sig"))
    a = sig.select(
        F.col("vec_id").alias("doc_a"), F.col("v").alias("va"),
        F.col("n").alias("na"), "band_id", "band_sig",
    )
    b = sig.select(
        F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"), "band_id", "band_sig",
    )
    cand = (
        a.join(b, ["band_id", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "va", "vb", "na", "nb")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        cand.filter((F.col("na") > 0) & (F.col("nb") > 0))
        .withColumn(
            "cosine", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    probe_pred,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold, probes ×
    corpus (probe_pred bounds the left side; at scale the left side is
    an LSH/IVF bucket join, not a predicate)."""
    base = emb.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    ).withColumn("n", norm(F.col("v")))
    probes = base.select(
        F.col("vec_id").alias("doc_a"), F.col("v").alias("va"), F.col("n").alias("na")
    ).filter(probe_pred(F.col("doc_a")))
    pairs = (
        base.crossJoin(F.broadcast(probes))
        .filter((F.col("doc_a") < F.col("vec_id")) & (F.col("n") > 0) & (F.col("na") > 0))
        .withColumn("cosine", dot(F.col("v"), F.col("va")) / (F.col("n") * F.col("na")))
        .filter(F.col("cosine") >= threshold)
    )
    return pairs.select("doc_a", F.col("vec_id").alias("doc_b"), "cosine")


def jl_matrix(out_dim: int, dim: int) -> list[list[float]]:
    """Deterministic Johnson-Lindenstrauss projection matrix
    (out_dim x dim): entries uniform in [-1, 1] derived from md5, so
    the identical literal matrix is embeddable in the DuckDB oracle
    (same determinism contract as :func:`rhp_signs`). Scaled by
    sqrt(3/out_dim): uniform[-1,1] entries have variance 1/3, so this
    scale gives E[||Px||^2] = ||x||^2 — projected L2 norms are
    distance-preserving in expectation (JL lemma)."""
    import hashlib
    import math

    s = math.sqrt(3.0 / out_dim)
    out = []
    for j in range(out_dim):
        row = []
        for i in range(dim):
            h = int.from_bytes(
                hashlib.md5(f"jl:{j}:{i}".encode()).digest()[:6], "big"
            )
            row.append(s * (2.0 * h / float(1 << 48) - 1.0))
        out.append(row)
    return out


def random_projection(
    emb: DataFrame,
    out_dim: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-projection dimensionality reduction (Johnson-
    Lindenstrauss): project each embedding onto ``out_dim`` fixed
    pseudo-random directions — the standard pre-step that shrinks
    vectors before LSH bucketing or brute-force scoring at corpus
    scale (8x fewer multiplies per comparison downstream).

    Pure narrow projection: each output dim is one JVM-side
    ``aggregate(zip_with(vec, literal_row, *), +)`` fold — no shuffle,
    no UDF, streams at scan speed. The matrix is a deterministic md5
    literal, so the DuckDB oracle multiplies the exact same numbers in
    the exact same index order (bit-identical folds)."""
    mat = jl_matrix(out_dim, dim)
    v = as_double(F.col(vec_col))
    cols = [
        dot(v, F.array(*[F.lit(c) for c in row])).alias(f"r{j}")
        for j, row in enumerate(mat)
    ]
    return emb.select(F.col(id_col), *cols)


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid components — the building block of k-means
    assignment quality checks, class prototypes, and IVF cell stats.
    One row per (label, dim_idx) with the mean component value.

    Plan: posexplode the vector (row-local), then ONE hash aggregate
    on (label, dim_idx) — partial aggregation (map-side combine) does
    almost all the work before the only shuffle, whose key count is
    labels x dims regardless of corpus size."""
    return (
        emb.select(
            F.col(label_col),
            F.posexplode(as_double(F.col(vec_col))).alias("dim_idx", "__x"),
        )
        .groupBy(label_col, "dim_idx")
        .agg(
            F.avg("__x").alias("mean_val"),
            F.count(F.lit(1)).cast("int").alias("n_vecs"),
        )
    )


def cosine_topk_arrow(
    emb: DataFrame,
    probe_pred,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deployment twin of :func:`cosine_topk` — same output contract
    ``(probe_id, vec_id, cosine, rank)``, same broadcast-probes
    semantics, but the scoring is ONE numpy matmul per Arrow batch
    instead of an interpreted higher-order fold per (probe, candidate)
    pair (measured ~10 µs/dot on the HOF path; BLAS does the same dot
    in nanoseconds — see docs/PLANS.md r8 A/B). The oracle rows keep
    the fold path (bit-reproducible in SQL); THIS is what a 100 TB
    serving job runs.

    Plan shape: probes collect driver-side (bounded probe set — the
    same seam as k-means centroids / BM25 idf) and ride along as task
    closure; each corpus Arrow batch emits only its LOCAL top-k per
    probe (k rows × probes per batch), then one probes-keyed window
    ranks the n_batches × k survivors — the same two-phase top-k
    funnel, with phase 1 inside the kernel. Ties broken by vec_id,
    like the fold path; cosines may differ from it at ~1e-15 (BLAS
    association), which rq display rounding absorbs."""
    import numpy as np

    base = emb.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    )
    # dirty-corpus contract, mirrored from the fold path: NULL and
    # ragged (wrong-dimension) vectors are DATA, silently dropped —
    # the fold path drops them via its n>0 / null-propagation filter,
    # so the deployment twin must not crash on them in np.stack
    raw_probes = [
        (int(r["vec_id"]), r["v"])
        for r in base.filter(probe_pred(F.col("vec_id"))).collect()
    ]
    # the corpus dimension comes from the valid probe with the SMALLEST
    # vec_id — collect() order is partition order, so "first row" would
    # let one ragged probe nondeterministically poison dim and drop
    # every clean vector (code-review r9 finding #1)
    # sort by (id, payload length) — never the payload itself (a
    # None/list mix raises TypeError, advice r10 #2), and never id
    # alone (a stable sort keeps collect()'s PARTITION order for
    # duplicate ids carrying different-dim vectors, making dim
    # scheduling-dependent — code-review r10 #3). The composite key is
    # total over the rows that matter, so dim is deterministic.
    dim = next(
        (
            len(v)
            for _, v in sorted(
                raw_probes,
                key=lambda t: (t[0], -1 if t[1] is None else len(t[1])),
            )
            if v is not None and len(v) > 0
        ),
        None,
    )
    probes = [
        (i, np.asarray(v, dtype=np.float64))
        for i, v in raw_probes
        if v is not None and len(v) == dim and not any(
            x is None for x in v
        )
    ]
    if not probes:
        raise ValueError("cosine_topk_arrow: empty probe set")
    P = np.stack([v for _, v in probes])
    pn = np.linalg.norm(P, axis=1)
    keep = pn > 0
    pids = np.array([i for (i, _), s in zip(probes, keep) if s], dtype=np.int64)
    Pn = P[keep] / pn[keep][:, None]
    kk = int(k)

    def score(it):
        import pandas as pd_

        for pdf in it:
            # same drop rule as the probe side: NULL / ragged /
            # null-element vectors never reach np.stack
            clean = [
                (i, v)
                for i, v in zip(pdf["vec_id"], pdf["v"])
                if v is not None and len(v) == dim
                and not any(x is None for x in v)
            ]
            if not clean:
                continue
            ids = np.array([i for i, _ in clean], dtype=np.int64)
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for _, v in clean]
            )
            n = np.linalg.norm(X, axis=1)
            ok = n > 0
            if not ok.any():
                continue
            ids, X, n = ids[ok], X[ok], n[ok]
            S = (X / n[:, None]) @ Pn.T  # (batch, probes)
            out_p, out_v, out_c = [], [], []
            for j in range(Pn.shape[0]):
                col = S[:, j]
                mask = ids != pids[j]
                cand = np.nonzero(mask)[0]
                if cand.size == 0:
                    continue
                m = min(kk, cand.size)
                # batch-local top-k with the fold path's tie-break:
                # argpartition alone picks an ARBITRARY subset of the
                # candidates tied at the k-th cosine (duplicate
                # embeddings — exactly the dedup regime — hit this), so
                # widen the pool to every candidate at or above the
                # boundary value, then lexsort (desc cosine, asc
                # vec_id) and cut to m. Degenerate all-tied batches pay
                # a full sort — correctness over the rare worst case.
                if cand.size > m:
                    part = np.argpartition(-col[cand], m - 1)[:m]
                    thr = col[cand][part].min()
                    pool = cand[col[cand] >= thr]
                else:
                    pool = cand
                order = pool[np.lexsort((ids[pool], -col[pool]))][:m]
                out_p.extend([pids[j]] * len(order))
                out_v.extend(ids[order].tolist())
                out_c.extend(col[order].tolist())
            if out_p:
                yield pd_.DataFrame(
                    {"probe_id": out_p, "vec_id": out_v, "cosine": out_c}
                )

    scored = base.mapInPandas(
        score, "probe_id long, vec_id long, cosine double"
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .select(
            "probe_id", "vec_id", "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def knn_classify(
    emb: DataFrame,
    probe_pred,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN label prediction over the embedding space — the weak-
    labeling / classifier-distillation primitive of curation pipelines
    (label new docs by their nearest labeled neighbors, audit a trained
    quality classifier against its own training set): for each probe,
    the majority label of its ``k`` nearest cosine neighbors, ties
    broken by the smaller label id.

    Returns ``(probe_id, true_label, pred_label, n_votes, correct)``.

    Plan: the candidate scan is :func:`cosine_topk` (broadcast probes,
    salted two-phase top-k); the result is probes x k rows — a TINY
    frame — so it BROADCASTS back into the corpus's (id, label)
    projection for neighbor labels; the vote is one hash aggregate on
    (probe, label) and one probes-sized window. Nothing corpus-sized
    shuffles after the top-k. Everything after the ranking is integer
    arithmetic — bit-exact cross-engine by construction."""
    topk = cosine_topk(
        emb, probe_pred, k=k, id_col=id_col, vec_col=vec_col
    )
    labels = emb.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).alias("nb_label")
    )
    votes = (
        labels.join(F.broadcast(topk), "vec_id")
        .groupBy("probe_id", "nb_label")
        .agg(F.count(F.lit(1)).cast("int").alias("n_votes"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("n_votes"), F.col("nb_label")
    )
    pred = (
        votes.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select("probe_id", F.col("nb_label").alias("pred_label"), "n_votes")
    )
    truth = emb.select(
        F.col(id_col).alias("probe_id"), F.col(label_col).alias("true_label")
    ).filter(probe_pred(F.col("probe_id")))
    return truth.join(F.broadcast(pred), "probe_id").select(
        "probe_id",
        "true_label",
        "pred_label",
        "n_votes",
        (F.col("pred_label") == F.col("true_label"))
        .cast("int")
        .alias("correct"),
    )


def embedding_outliers(
    emb: DataFrame,
    z_thresh: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-class embedding outlier detection — the CLIP-filtering /
    mislabel-screening primitive: a row whose distance to its OWN
    class centroid is a z-score outlier within that class is a
    candidate bad pair (wrong label, broken embedding, off-manifold
    sample). Returns ``(vec_id, label, dist_q, z, outlier)``.

    Bit-exact by construction, no display rounding needed in the
    DECISION: centroids are rq6-quantized per dim (absorbing engine
    aggregation-order noise, the :func:`_q6` k-means trick), each
    row's distance folds (x - c)^2 in ORDINAL dim order (Spark array
    fold ≡ DuckDB list_transform/list_sum — same association), sqrt is
    exactly rounded, and the distance is then DYADIC-quantized
    (1/2^10 grid) so the per-class mean/variance sums are
    association-FREE: mean, var = E[d²]-E[d]², std and z come out
    bit-identical in any engine and any partitioning. Classes with
    zero distance spread (or a single member) flag nothing.

    Plan: one labels x dims hash aggregate (centroids, broadcast
    back), one narrow per-row fold, one labels-sized stats aggregate
    (broadcast back), one narrow z projection — the corpus is scanned
    twice and never shuffled.

    Split for the streaming face: :func:`outlier_stats` is the
    batch-trained artifact (labels-sized), :func:`score_outliers` the
    stateless scorer — this function composes them; the streaming
    ingest gate (`streaming.sessionize.streaming_outlier_gate`) applies
    the SAME scorer to a live stream against the static stats table,
    bit-exact by shared code + dyadic arithmetic."""
    return score_outliers(
        emb,
        outlier_stats(emb, id_col=id_col, vec_col=vec_col, label_col=label_col),
        z_thresh=z_thresh,
        id_col=id_col,
        vec_col=vec_col,
        label_col=label_col,
    )


def outlier_stats(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """The batch-trained per-class outlier model: ``(label, cvec,
    mean_d, var_d)`` — rq6 centroid vector plus the dyadic-distance
    mean/variance over the training corpus. Labels-sized; persists as
    a tiny table and broadcasts into any scorer (batch backfill or the
    streaming ingest gate)."""
    from mhw3d_detection_spark.operators.analysis import dyadic_quantize

    cent = (
        label_centroids(emb, label_col=label_col, id_col=id_col, vec_col=vec_col)
        .select(
            F.col(label_col).alias("label"),
            "dim_idx",
            rq_centroid(F.col("mean_val")).alias("c"),
        )
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim_idx", "c"))
            ).alias("__sc")
        )
        .select(
            "label",
            F.transform(F.col("__sc"), lambda s: s["c"]).alias("cvec"),
        )
    )
    base = emb.select(
        F.col(label_col).alias("label"),
        as_double(F.col(vec_col)).alias("v"),
    ).join(F.broadcast(cent), "label")
    scored = base.select(
        "label", dyadic_quantize(F.sqrt(_centroid_d2()), 10).alias("dist_q")
    )
    stats = (
        scored.groupBy("label")
        .agg(
            F.sum("dist_q").alias("__sd"),
            F.sum(F.col("dist_q") * F.col("dist_q")).alias("__sdd"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select(
            "label",
            (F.col("__sd") / F.col("__n")).alias("mean_d"),
            (
                F.col("__sdd") / F.col("__n")
                - (F.col("__sd") / F.col("__n"))
                * (F.col("__sd") / F.col("__n"))
            ).alias("var_d"),
        )
    )
    return cent.join(stats, "label")


def _centroid_d2() -> Column:
    """Squared distance of ``v`` to ``cvec``, folded in ORDINAL dim
    order (the association both engines replay)."""
    return F.aggregate(
        F.zip_with(F.col("v"), F.col("cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def score_outliers(
    df: DataFrame,
    stats: DataFrame,
    z_thresh: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """STATELESS outlier scorer: broadcast the labels-sized
    ``(label, cvec, mean_d, var_d)`` model into the frame, fold the
    dyadic distance row-locally, z-score against the TRAINED stats.
    Works identically on a batch frame and a stream (stream-static
    broadcast join + narrow projection — no watermark, no state)."""
    from mhw3d_detection_spark.operators.analysis import dyadic_quantize

    base = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        as_double(F.col(vec_col)).alias("v"),
    ).join(F.broadcast(stats), "label")
    scored = base.select(
        "vec_id",
        "label",
        dyadic_quantize(F.sqrt(_centroid_d2()), 10).alias("dist_q"),
        "mean_d",
        "var_d",
    )
    # one z expression; the flag derives FROM the z column so the two
    # can never desynchronize (z <= 0 for var<=0 via the guard, and the
    # threshold is strictly positive)
    return (
        scored.select(
            "vec_id",
            "label",
            "dist_q",
            F.when(
                F.col("var_d") > 0,
                (F.col("dist_q") - F.col("mean_d")) / F.sqrt(F.col("var_d")),
            ).otherwise(F.lit(0.0)).alias("z"),
        )
        .withColumn(
            "outlier",
            # coalesce: a NULL z (NULL embedding -> NULL distance)
            # flags 0, matching the oracle's CASE ... ELSE 0
            F.coalesce(
                (F.col("z") > F.lit(float(z_thresh))).cast("int"), F.lit(0)
            ),
        )
    )


def rq_centroid(c: Column) -> Column:
    """Column form of the rq6 centroid quantization (:func:`_q6`'s
    Python twin) — DELEGATES to the canonical ``queries.base.rq`` so a
    change to the quantizer/nudge cannot desynchronize this copy from
    the one the oracles embed."""
    from mhw3d_detection_spark.queries.base import rq

    return rq(c, 6)


def projected_rerank_topk(
    emb: DataFrame,
    probe_pred,
    k: int = 5,
    k_coarse: int = 20,
    out_dim: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN retrieval: score the WHOLE corpus on cheap
    ``out_dim``-dim JL projections (out_dim/dim of the multiply cost),
    keep the ``k_coarse`` best candidates per probe, then re-rank only
    those with the exact full-dimension cosine — the classic
    coarse-quantize-then-rerank shape (IVF-Flat / two-tower retrieval)
    expressed as DataFrame ops.

    Scale: stage 1 is a broadcast of the (small) probe projections
    against a narrow projection of the corpus — no shuffle of the big
    side; stage 2 touches ``probes x k_coarse`` rows only, equi-joined
    back to the full vectors. The per-probe windows rank bounded sets
    (corpus-side candidates for stage 2; stage 1's window ranks the
    broadcast-join output exactly like :func:`cosine_topk`, whose
    salted two-phase variant is the drop-in at extreme probe skew)."""
    proj = random_projection(emb, out_dim, dim, id_col, vec_col)
    parr = F.array(*[F.col(f"r{j}") for j in range(out_dim)])
    pr = proj.select(F.col(id_col), parr.alias("__pv"))
    probes = pr.filter(probe_pred(F.col(id_col))).select(
        F.col(id_col).alias("probe_id"), F.col("__pv").alias("__qv")
    )
    coarse = (
        pr.crossJoin(F.broadcast(probes))
        .filter(F.col(id_col) != F.col("probe_id"))
        .withColumn(
            "__ccos",
            dot(F.col("__pv"), F.col("__qv"))
            / (norm(F.col("__pv")) * norm(F.col("__qv"))),
        )
    )
    wc = Window.partitionBy("probe_id").orderBy(
        F.col("__ccos").desc(), F.col(id_col)
    )
    cand = (
        coarse.withColumn("__crank", F.row_number().over(wc))
        .filter(F.col("__crank") <= k_coarse)
        .select("probe_id", id_col)
    )
    full = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("__fv"))
    probes_full = emb.filter(probe_pred(F.col(id_col))).select(
        F.col(id_col).alias("probe_id"),
        as_double(F.col(vec_col)).alias("__qfv"),
    )
    wr = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        cand.join(full, id_col)
        .join(F.broadcast(probes_full), "probe_id")
        .withColumn(
            "cosine",
            dot(F.col("__fv"), F.col("__qfv"))
            / (norm(F.col("__fv")) * norm(F.col("__qfv"))),
        )
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= k)
        .select("probe_id", id_col, "cosine", "rank")
    )


def quantize_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column — the
    standard 4× memory/bandwidth compression for vector search indexes
    (per-vector scale = 127/max|v_i|, q_i = floor(v_i·scale + 0.5)).

    Every step is exactly-rounded IEEE double arithmetic (widening
    cast, division, multiply, floor), so the quantized codes are
    BIT-IDENTICAL in any engine — unlike ln-based scores, the int8
    codes carry no cross-engine drift at all. A zero vector keeps
    scale 0 (all-zero codes); downstream search excludes it via the
    qnorm2 > 0 guard exactly like the float path's norm guard.

    Narrow map, zero shuffles. Returns
    ``(id, qv: array<long> in [-127, 127], scale, qnorm2)`` where
    ``qnorm2 = Σ q_i²`` (int64 — the reusable norm term).
    """
    v = as_double(F.col(vec_col))
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(mx > 0, F.lit(127.0) / mx).otherwise(F.lit(0.0))
    base = emb.select(
        F.col(id_col), *carry_cols, v.alias("__v"), scale.alias("scale")
    )
    qv = F.transform(
        F.col("__v"),
        lambda x: F.floor(x * F.col("scale") + F.lit(0.5)).cast("long"),
    )
    return base.select(
        id_col,
        *carry_cols,
        qv.alias("qv"),
        "scale",
    ).withColumn(
        "qnorm2",
        F.aggregate(
            F.col("qv"), F.lit(0).cast("long"), lambda a, x: a + x * x
        ),
    )


def int8_topk(
    emb: DataFrame,
    probe_pred,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str | None = None,
) -> DataFrame:
    """Top-k quantized-cosine neighbors per probe over int8 codes —
    the memory-bound scale path of brute-force search. The deployment
    shape is QUANTIZE ONCE: persist :func:`quantize_int8`'s
    ``(id, qv, qnorm2)`` as the index artifact (int8 parquet is ~4-8×
    smaller than the float vectors — at cluster scale the scan-size
    reduction dominates) and scan that for every probe batch. Measured
    local[32], 100k×64-dim, 20 probes, best-of-3: searching a
    materialized int8 index beats the materialized-float search 18.2 s
    vs 23.2 s (−22%, arithmetic only — no I/O term locally), while
    quantizing on the fly inside one query LOSES (13.8 vs 11.8 s): the
    per-run quantization costs more than the narrower dot saves, so
    don't call this operator per-query on raw floats at scale — build
    the index. The quantized cosine
    ``dot(qa,qb)/(√qnorm2_a·√qnorm2_b)`` deviates from the float
    cosine by O(1/127) — rerank survivors with the exact float path
    (:func:`two_stage_rerank` shape) when that matters.

    Determinism: the dot is an int64 sum (exact in any order); sqrt,
    multiply and divide are exactly-rounded IEEE ops — the score is
    bit-identical cross-engine, so rank order needs no rounding
    tolerance at all.

    Same plan shape as :func:`cosine_topk`: corpus × broadcast probes,
    two-phase salted top-k (no hot partition at few-probes/huge-corpus
    skew). ``bucket_col`` switches brute-force → IVF-SQ8 (the FAISS
    IVFx,SQ8 index shape): candidates must share the probe's coarse
    cell, so the scored fraction drops to 1/n_cells AND each candidate
    costs an integer dot — the two scale levers compose.
    Returns ``(probe_id, vec_id, qcosine, rank)``.
    """
    q = quantize_int8(
        emb, id_col, vec_col,
        carry_cols=(bucket_col,) if bucket_col else (),
    )
    base = q.select(
        F.col(id_col).alias("vec_id"),
        "qv",
        "qnorm2",
        *([F.col(bucket_col).alias("bucket")] if bucket_col else []),
    )
    probes = base.filter(probe_pred(F.col("vec_id"))).select(
        F.col("vec_id").alias("probe_id"),
        F.col("qv").alias("pqv"),
        F.col("qnorm2").alias("pqn2"),
        *([F.col("bucket")] if bucket_col else []),
    )
    if bucket_col:
        j = base.join(F.broadcast(probes), on="bucket", how="inner")
    else:
        j = base.crossJoin(F.broadcast(probes))
    j = (
        j
        .filter(
            (F.col("vec_id") != F.col("probe_id"))
            & (F.col("qnorm2") > 0)
            & (F.col("pqn2") > 0)
        )
        .withColumn(
            "__dot",
            F.aggregate(
                F.zip_with(F.col("qv"), F.col("pqv"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ),
        )
        .withColumn(
            "qcosine",
            F.col("__dot")
            / (F.sqrt(F.col("qnorm2")) * F.sqrt(F.col("pqn2"))),
        )
    )
    scored = j.select("probe_id", "vec_id", "qcosine")
    SALTS = 64
    salt = F.pmod(F.hash("vec_id"), F.lit(SALTS))
    w1 = Window.partitionBy("probe_id", "__salt").orderBy(
        F.desc("qcosine"), F.col("vec_id")
    )
    pruned = (
        scored.withColumn("__salt", salt)
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
    )
    w2 = Window.partitionBy("probe_id").orderBy(
        F.desc("qcosine"), F.col("vec_id")
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "vec_id", "qcosine", "rank")
    )


def hybrid_rrf_retrieval(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: tuple[str, ...],
    probe_vec_id: int,
    *,
    k_rrf: int = 60,
    ann_depth: int = 64,
    top_n: int = 20,
    text_col: str = "text",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval by Reciprocal Rank Fusion (Cormack, Clarke &
    Büttcher SIGIR'09): fuse the BM25 lexical ranking of
    ``query_terms`` with the int8-ANN ranking around the probe
    embedding — ``rrf(d) = Σ_systems 1/(k_rrf + rank_system(d))`` —
    the standard lexical ⊕ dense ensemble of modern retrieval stacks
    (and of RAG data curation), expressed entirely as DataFrame ops.

    Exactness: both inputs to the fusion are integer RANKS (the BM25
    rank orders by the rq4-quantized score then doc_id via the
    two-phase ``_global_row_number`` — no single-partition window; the
    ANN rank is the int8 path's bit-exact ordering), and
    ``1/(k_rrf+rank)`` is one exactly-rounded division — the fused
    score is bit-identical cross-engine with NO rounding tolerance.

    Plan shape: the lexical leg is bm25's two doc-keyed aggregates +
    range-partitioned rank; the dense leg scores |corpus| once against
    one broadcast probe; fusion is a doc-keyed full-outer join of two
    rankings (lexical: hit docs only; dense: ``ann_depth`` rows) and a
    TakeOrdered. A doc absent from a system contributes 0 for that
    system (standard RRF).

    Returns ``(doc_id, lex_rank, ann_rank, rrf)``, top ``top_n`` by
    (rrf desc, doc_id).
    """
    from mhw3d_detection_spark.operators.analysis import _global_row_number
    from mhw3d_detection_spark.operators.textops import bm25_topk

    lex = bm25_topk(docs, query_terms, text_col=text_col, top_n=None)
    lexr = _global_row_number(
        lex, [F.desc("score"), F.col("doc_id")], "lex_rank"
    ).select("doc_id", "lex_rank")
    ann = int8_topk(
        emb,
        probe_pred=lambda c: c == probe_vec_id,
        k=ann_depth,
        id_col=id_col,
        vec_col=vec_col,
    ).select(F.col("vec_id").alias("doc_id"), F.col("rank").alias("ann_rank"))
    fused = (
        lexr.join(ann, "doc_id", "full_outer")
        .withColumn(
            "rrf",
            F.coalesce(
                F.lit(1.0) / (F.lit(float(k_rrf)) + F.col("lex_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(float(k_rrf)) + F.col("ann_rank")), F.lit(0.0)
            ),
        )
    )
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(top_n)


# =========================================================================
# Product quantization (Jégou, Douze & Schmid, TPAMI 2011) — the codes
# index that makes billion-vector search scan-bound instead of
# memory-bound: d-dim float vectors compress to m sub-codes (one byte
# each at ksub<=256), and search reads the codes, never the floats.
# =========================================================================
def pq_train_codebooks(
    emb: DataFrame,
    m: int = 4,
    ksub: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> list[list[tuple[int, list[float]]]]:
    """Train product-quantization codebooks: split the d-dim space into
    ``m`` contiguous subspaces of d/m dims and run an INDEPENDENT
    ``ksub``-centroid Lloyd's quantizer per subspace
    (:func:`kmeans_ivf_centroids` — deterministic TakeOrdered init,
    per-round ``_q6`` centroid quantization, so every subspace trainer
    is bit-replayable in SQL). Total codebook size is m x ksub x (d/m)
    doubles — driver-sized at any corpus scale; the corpus pays m
    narrow passes (or m passes over a seeded sample via
    ``sample_fraction`` — the 100 TB path, same contract as the IVF
    trainer).

    Returns ``[subspace][(code, centroid)]`` — codes are dense from 0
    unless a cluster emptied (the Lloyd's drop rule), in which case the
    id gap is preserved, exactly like the IVF trainer.
    """
    dim = len(
        emb.select(as_double(F.col(vec_col)).alias("v")).first()["v"]
    )
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    books: list[list[tuple[int, list[float]]]] = []
    for s in range(m):
        sub = emb.select(
            F.col(id_col),
            F.slice(as_double(F.col(vec_col)), s * dsub + 1, dsub).alias(
                "__sub"
            ),
        )
        books.append(
            kmeans_ivf_centroids(
                sub,
                k=ksub,
                iters=iters,
                id_col=id_col,
                vec_col="__sub",
                sample_fraction=sample_fraction,
            )
        )
    return books


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every vector to its ``m`` nearest-sub-centroid codes — a
    pure narrow projection (the codebooks ride along as literals; no
    join, no shuffle), the build pass of a PQ index. At 64 dims x
    float64 -> 4 int codes the index artifact is ~64x smaller than the
    raw vectors: at 100 TB the search scan reads ~1.5 TB of codes
    instead, which is the entire point of PQ.

    Codes use the same literal-argmin expression as the IVF assign
    (squared distance, ties to the lowest code), so the encoding is
    bit-exact cross-engine for ksub <= ``LITERAL_ASSIGN_MAX_K``.
    Returns ``(id, codes: array<int>[m])``.
    """
    v = as_double(F.col(vec_col))
    dsub = len(codebooks[0][0][1])
    codes = F.array(
        *[
            _assign_bucket_expr(cb, F.slice(v, s * dsub + 1, dsub))
            for s, cb in enumerate(codebooks)
        ]
    )
    return emb.select(F.col(id_col), *carry_cols, codes.alias("codes"))


def pq_adc_topk(
    emb: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    probe_pred,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each probe keeps
    its float vector, every corpus vector is its ``m`` codes, and the
    probe->candidate squared distance is the sum over subspaces of
    ||probe_sub - centroid[code]||² — Jégou et al. TPAMI'11 eq. (13).

    The plan is the REAL ADC shape, not a rescore of the floats: each
    probe first materializes its lookup table (m x ksub squared
    distances to every sub-centroid — literal-codebook expressions, so
    the LUT build is narrow), then the corpus-x-probes scoring does m
    ``element_at`` lookups + (m-1) adds per pair instead of a d-dim
    dot — 4 lookups vs 64 multiplies here, and the scan side reads
    codes, not vectors. Same broadcast-probes + salted two-phase top-k
    scaffold as :func:`cosine_topk` (no hot partition at few-probes /
    huge-corpus skew).

    Exactness: every LUT entry is the same fixed-order IEEE fold the
    oracle's ``list_sum(list_transform(...))`` computes, and the
    cross-subspace sum is left-associated in both engines — the raw
    distance is bit-identical cross-engine; ranking needs no rounding
    tolerance. Returns ``(probe_id, vec_id, adc_d2, rank)``, ascending
    distance, ties to the lower vec_id.

    ``bucket_col`` switches brute-force → IVF-PQ (the FAISS IVFx,PQy
    index shape): candidates must share the probe's coarse cell, so
    the scored fraction drops to 1/n_cells AND each candidate costs m
    LUT lookups over the codes scan — the coarse-prune and
    code-compression levers compose, exactly like IVF-SQ8.
    """
    mm = len(codebooks)
    dsub = len(codebooks[0][0][1])
    # LUT slot count per subspace: dense over 0..max-code (a dropped
    # empty cluster leaves an unreferenced placeholder slot — no row
    # encodes to a missing code, so the 0.0 filler is unreachable)
    slots = max(max(b for b, _ in cb) + 1 for cb in codebooks)
    probes = emb.filter(probe_pred(F.col(id_col))).select(
        F.col(id_col).alias("probe_id"),
        as_double(F.col(vec_col)).alias("__pv"),
        *([F.col(bucket_col).alias("__bkt")] if bucket_col else []),
    )
    lut_terms = []
    for s, cb in enumerate(codebooks):
        by_code = dict(cb)
        sub = F.slice(F.col("__pv"), s * dsub + 1, dsub)
        for c in range(slots):
            if c in by_code:
                lut_terms.append(
                    F.aggregate(
                        F.zip_with(
                            sub,
                            F.lit(by_code[c]),
                            lambda x, y: (x - y) * (x - y),
                        ),
                        F.lit(0.0),
                        lambda a, x: a + x,
                    )
                )
            else:
                lut_terms.append(F.lit(0.0))
    luts = probes.select(
        "probe_id",
        F.array(*lut_terms).alias("__lut"),
        *(["__bkt"] if bucket_col else []),
    )
    enc_in = (
        emb.withColumn("__bkt", F.col(bucket_col)) if bucket_col else emb
    )
    codes = pq_encode(
        enc_in,
        codebooks,
        id_col,
        vec_col,
        carry_cols=("__bkt",) if bucket_col else (),
    ).withColumnRenamed(id_col, "vec_id")
    if bucket_col:
        j = codes.join(F.broadcast(luts), "__bkt", "inner")
    else:
        j = codes.crossJoin(F.broadcast(luts))
    j = j.filter(F.col("vec_id") != F.col("probe_id"))
    adc = None
    for s in range(mm):
        term = F.element_at(
            F.col("__lut"),
            (F.lit(s * slots + 1) + F.col("codes")[s]).cast("int"),
        )
        adc = term if adc is None else adc + term
    scored = j.select("probe_id", "vec_id", adc.alias("adc_d2"))
    SALTS = 64
    w1 = Window.partitionBy("probe_id", "__salt").orderBy(
        F.asc("adc_d2"), F.col("vec_id")
    )
    pruned = (
        scored.withColumn("__salt", F.pmod(F.hash("vec_id"), F.lit(SALTS)))
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
    )
    w2 = Window.partitionBy("probe_id").orderBy(
        F.asc("adc_d2"), F.col("vec_id")
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "vec_id", "adc_d2", "rank")
    )


def _assign_topn_expr(
    cents: list[tuple[int, list[float]]], vec: Column, n: int
) -> Column:
    """The ``n`` nearest centroid ids (ascending squared distance,
    ties to the lower bucket) as an array — the multi-probe variant of
    :func:`_assign_bucket_expr` (same literal structs; ``array_sort``
    on (d², bucket) structs is the lexicographic order ``ORDER BY d2,
    bucket`` the SQL oracle replays). Still a narrow expression."""
    structs = [
        F.struct(
            F.aggregate(
                F.zip_with(vec, F.lit(c), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            F.lit(int(b)).alias("b"),
        )
        for b, c in cents
    ]
    return F.transform(
        F.slice(F.array_sort(F.array(*structs)), 1, n), lambda s: s["b"]
    )


def cosine_topk_multiprobe(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    probe_pred,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe IVF top-k: the corpus lives in its single nearest
    cell, but each PROBE searches its ``n_probe`` nearest cells — the
    standard recall lever of IVF indexes (FAISS ``nprobe``): the
    neighbors an IVF search misses are overwhelmingly just across the
    probe's cell boundary, so probing the runner-up cell recovers most
    of the recall gap at 2× the candidate cost while the corpus-side
    index is unchanged. Probes explode to (probe, cell) rows (n_probe
    × |probes| — still broadcast-sized), then the identical equi-join
    + salted two-phase top-k as :func:`cosine_topk`; a candidate is in
    exactly one cell, so no dedup is needed.
    """
    base = (
        emb.select(
            F.col(id_col).alias("vec_id"),
            as_double(F.col(vec_col)).alias("v"),
        )
        .withColumn("n", norm(F.col("v")))
        .withColumn("bucket", _assign_bucket_expr(cents, F.col("v")))
    )
    probes = base.filter(probe_pred(F.col("vec_id"))).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("n").alias("pn"),
        F.explode(
            _assign_topn_expr(cents, F.col("v"), n_probe)
        ).alias("bucket"),
    )
    j = (
        base.join(F.broadcast(probes), "bucket")
        .filter(
            (F.col("vec_id") != F.col("probe_id"))
            & (F.col("n") > 0)
            & (F.col("pn") > 0)
        )
        .withColumn(
            "cosine", dot(F.col("v"), F.col("pv")) / (F.col("n") * F.col("pn"))
        )
    )
    scored = j.select("probe_id", "vec_id", "cosine")
    SALTS = 64
    w1 = Window.partitionBy("probe_id", "__salt").orderBy(
        F.desc("cosine"), F.col("vec_id")
    )
    pruned = (
        scored.withColumn("__salt", F.pmod(F.hash("vec_id"), F.lit(SALTS)))
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
    )
    w2 = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.col("vec_id")
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cosine", "rank")
    )


def pca_top_component(
    emb: DataFrame,
    iters: int = 3,
    vec_col: str = "embedding",
    gram: str = "arrow",
) -> DataFrame:
    """Distributed PCA, top principal direction of the (uncentered)
    embedding second-moment matrix: ONE pass over the data builds the
    d x d Gram (4096 rows however big the corpus — ``gram="arrow"``
    computes per-batch numpy X^T X partials, the declarative
    ``gram="explode"`` twin is a row-local double Generate; both
    bit-identical, see inline notes), then ``iters`` power-iteration
    rounds, each a Gram-join-vector matvec (4096 x 64 rows — dust)
    with INFINITY-norm normalization, the 64-row iterate
    localCheckpointed per round (eager like ``mmr_diversify`` — the
    max-norm references each round's matvec twice, so an unchecked
    chain doubles per round).

    Why max-norm, not L2, between rounds: iterates stay on an exact
    dyadic grid. Inputs are quantized to 1/64 (products exact on
    1/4096), matvec sums are exact dyadics, max/compare are exact, and
    the divide-by-max + requantize lands back on the 1/64 grid — so
    every round is bit-identical in Spark and DuckDB regardless of
    aggregation order. An L2 norm would SQUARE the iterates
    (doubling the bit budget past the 53-bit mantissa) and take a
    sqrt mid-plan; deferring L2 to the very end keeps the one
    sqrt/divide on the final small vector, where IEEE exact rounding
    makes it deterministic. Same device family as the k-means /
    PageRank round quantization (``_q6``), pushed one step further:
    intermediate rounds here are EXACT, not just re-gridded.

    Convergence: standard power iteration (von Mises); rate is the
    eigengap ratio |l2/l1|^iters.

    Returns ``(dim_idx, loading, eigval)``: L2-normalized loadings of
    the dominant eigenvector and its Rayleigh-quotient eigenvalue.
    """
    from mhw3d_detection_spark.operators.analysis import dyadic_quantize

    # Gram as a ROW-LOCAL double Generate, never a self-join: explode
    # the quantized vector to (i, qi) rows carrying the array, explode
    # it again to (i, j, qi*qj), and let the (i, j)-keyed aggregate
    # map-side-combine down to d^2 partials per task — the shuffle
    # carries d^2 x partitions rows however big the corpus, and both
    # Generates + the product stay inside whole-stage codegen. (Two
    # rejected formulations, measured at 40-100 k vectors: the vec_id
    # SELF-JOIN re-shuffles the n x d exploded table — 194 s at 40 k;
    # a flatten(transform(transform(...))) building the d^2 struct
    # array per row runs in INTERPRETED HOF lambdas — the same
    # never-codegens trap as the r7 cold-wall fix — and timed out at
    # 100 k. The DuckDB oracle keeps the join formulation: identical
    # exact-dyadic products grouped identically, so the sums are
    # bit-identical.)
    # ``gram="arrow"`` (default, the scale path) computes per-batch
    # numpy X^T X partials inside mapInPandas and SUM-merges the d^2
    # partial frames — BLAS does the 409M multiplies of a 100 k x 64
    # corpus in milliseconds where the exploded hash aggregate spends
    # minutes on 409M per-row aggregate updates (measured 147 s).
    # The dyadic grid is what makes this LEGAL for the bit-exact gate:
    # quantized products are exact dyadics, and sums of exact dyadics
    # are association-free — BLAS order, Spark partial-merge order and
    # DuckDB scan order all produce the same bits.
    if gram == "arrow":
        import pandas as _pd  # noqa: F401

        from mhw3d_detection_spark.operators.analysis import DYADIC_NUDGE

        def _gram_batches(batches):
            import numpy as np
            import pandas as pd

            G = None
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.array(
                    pdf[vec_col].tolist(), dtype=np.float64
                )
                # same grid constant as dyadic_quantize (ONE copy)
                Xq = np.floor(X * 64.0 + DYADIC_NUDGE) / 64.0
                p = Xq.T @ Xq
                G = p if G is None else G + p
            if G is not None:
                d_ = G.shape[0]
                ii, jj = np.meshgrid(
                    np.arange(d_), np.arange(d_), indexing="ij"
                )
                yield pd.DataFrame(
                    {
                        "i": ii.ravel().astype("int32"),
                        "j": jj.ravel().astype("int32"),
                        "c": G.ravel(),
                    }
                )

        # NULL-vector guard shared with the explode path: posexplode
        # skips NULL arrays silently, but np.array over a batch with a
        # None (or ragged) entry builds an object array and crashes —
        # filter first so BOTH modes see the same rows. Embeddings must
        # be fixed-width (the table contract); ragged widths fail fast
        # inside numpy rather than silently zero-padding.
        g = (
            emb.select(vec_col)
            .filter(F.col(vec_col).isNotNull())
            .mapInPandas(_gram_batches, "i int, j int, c double")
            .groupBy("i", "j")
            .agg(F.sum("c").alias("c"))
        )
    else:
        qs = F.transform(F.col(vec_col), lambda v: dyadic_quantize(v))
        e1 = emb.filter(F.col(vec_col).isNotNull()).select(
            F.posexplode(qs).alias("i", "qi"), qs.alias("__qs")
        )
        g = (
            e1.select("i", "qi", F.posexplode("__qs").alias("j", "qj"))
            .groupBy("i", "j")
            .agg(F.sum(F.col("qi") * F.col("qj")).alias("c"))
        )
    # PERSIST is load-bearing (the _global_row_number precedent): every
    # power round references the running plan TWICE (the matvec and the
    # max-norm crossJoin), so an unpersisted Gram re-executes the
    # corpus pass ~2^iters times — measured 93 s vs 8 s at 100 k
    # vectors. The cached frame is d^2 rows (4096 doubles), invisible
    # next to any real input; it stays until the session drops it,
    # exactly like the ranked table in _global_row_number.
    g = g.persist()
    # dims spine from the (already 4096-row) Gram, not a second
    # corpus-sized distinct
    d = g.select("i").distinct()
    v = d.select("i", (F.lit(1.0) / F.lit(8.0)).alias("vv"))
    for _ in range(int(iters)):
        w = (
            g.join(F.broadcast(v.select(F.col("i").alias("j"), "vv")), "j")
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("vv")).alias("w"))
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = w.crossJoin(F.broadcast(m)).select(
            "i", dyadic_quantize(F.col("w") / F.col("m")).alias("vv")
        )
        # checkpoint the 64-row iterate: each round references w TWICE
        # (matvec + max-norm), so an unchecked chain doubles per round
        # — measured 3.4/5.7/17.9 s for rounds 0/1/2 at 100 k vectors
        # even with the Gram cached; checkpointed rounds are flat
        # ~1 s. Same eager contract as mmr_diversify.
        v = v.localCheckpoint()
    s2 = v.agg(F.sum(F.col("vv") * F.col("vv")).alias("s2"))
    cv = (
        g.join(F.broadcast(v.select(F.col("i").alias("j"), "vv")), "j")
        .groupBy("i")
        .agg(F.sum(F.col("c") * F.col("vv")).alias("cw"))
    )
    ray = (
        cv.join(F.broadcast(v), "i")
        .agg(F.sum(F.col("cw") * F.col("vv")).alias("num"))
    )
    return (
        v.crossJoin(F.broadcast(s2))
        .crossJoin(F.broadcast(ray))
        .select(
            F.col("i").cast("int").alias("dim_idx"),
            (F.col("vv") / F.sqrt("s2")).alias("loading"),
            (F.col("num") / F.col("s2")).alias("eigval"),
        )
    )


def mmr_diversify(
    emb: DataFrame,
    probe_id: int,
    *,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98) — the diversification pass a retrieval stack runs AFTER
    top-k: greedily pick the candidate maximizing
    ``lam * rel(d) - (1 - lam) * max_{s in S} sim(d, s)``, trading
    query relevance against redundancy with what is already selected.

    Two-phase shape: the DISTRIBUTED work is the ``pool``-sized
    relevance retrieval (:func:`cosine_topk` — salted two-phase top-k
    over the whole corpus) plus one candidate-bounded pairwise-cosine
    pass (pool^2 rows — dust); the greedy itself is ``k`` unrolled
    rounds over those checkpointed pool-sized frames. EAGER like
    ``curate_corpus``/``pq_train_codebooks``: each round
    localCheckpoints its selection (the round's plan references the
    previous selection twice — anti-join + max-sim — so an unchecked
    chain doubles per round; checkpointing keeps Catalyst linear).

    Exactness: relevance and pairwise sims are rq6-quantized, ``lam``
    should be dyadic — every greedy score is then two exactly-rounded
    products of identical operands, so selections replay bit-exactly
    in the unrolled SQL oracle (ties by vec_id).

    Returns ``(rank, vec_id, rel, mmr_score)``, k rows.
    """
    from mhw3d_detection_spark.queries.base import rq

    lam_ = F.lit(float(lam))
    one_m = F.lit(1.0 - float(lam))
    pool_df = (
        cosine_topk(emb, lambda c: c == probe_id, k=pool, id_col=id_col, vec_col=vec_col)
        .select("vec_id", rq("cosine", 6).alias("rel"))
        .localCheckpoint()
    )
    ids = [r["vec_id"] for r in pool_df.select("vec_id").collect()]
    base = (
        emb.filter(F.col(id_col).isin(ids))
        .select(F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v"))
        .withColumn("n", norm(F.col("v")))
    )
    a = base.select(
        F.col("vec_id").alias("a"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    b = base.select(
        F.col("vec_id").alias("b"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    sims = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            rq(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("sim"),
        )
        .localCheckpoint()
    )
    sel = (
        pool_df.orderBy(F.desc("rel"), "vec_id")
        .limit(1)
        .select(
            F.lit(1).cast("int").alias("rank"),
            "vec_id",
            "rel",
            (lam_ * F.col("rel")).alias("mmr_score"),
        )
        .localCheckpoint()
    )
    for r in range(2, int(k) + 1):
        mx = (
            sims.join(sel.select(F.col("vec_id").alias("b")), "b")
            .groupBy("a")
            .agg(F.max("sim").alias("msim"))
            .withColumnRenamed("a", "vec_id")
        )
        pick = (
            pool_df.join(sel.select("vec_id"), "vec_id", "left_anti")
            # inner: the pool pairwise graph is complete (zero-norm
            # vectors never reach the pool — cosine_topk guards n > 0)
            .join(mx, "vec_id")
            .select(
                F.lit(r).cast("int").alias("rank"),
                "vec_id",
                "rel",
                (lam_ * F.col("rel") - one_m * F.col("msim")).alias("mmr_score"),
            )
            .orderBy(F.desc("mmr_score"), "vec_id")
            .limit(1)
        )
        sel = sel.union(pick).localCheckpoint()
    return sel


def kcenter_select(
    emb: DataFrame,
    k: int = 5,
    seed_id: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point / Gonzalez) coreset selection —
    the diversity-first data-pruning policy: starting from a seed,
    repeatedly pick the embedding FARTHEST from everything already
    selected (max over points of min-distance-to-set). The k picks are
    a 2-approximation of the optimal k-center cover — the classic
    "every region of embedding space gets a representative" selection
    that random sampling misses on long tails (dataset-distillation /
    active-learning seeding, the complement of :func:`mmr_diversify`'s
    relevance-anchored diversity).

    Plan shape: k-1 rounds, each ONE narrow corpus pass — the running
    min-distance column updates against the single newly-selected
    center as a LITERAL array (the `_KMEANS_SQL` literal-assign seam;
    no broadcast, no join), then a TakeOrdered(1) argmax. Rounds
    localCheckpoint the corpus-sized state frame (same eager device as
    ``mmr_diversify``: each round references the previous frame twice).

    Exactness: distances rq6-quantize (the MMR contract), the running
    min is ``least`` over identical rq6 bits, argmax ties break to the
    smaller vec_id — selections replay bit-exactly in the unrolled SQL
    oracle.

    Returns ``(rank, vec_id, mind)`` — ``min(k, n_valid)`` rows (a
    corpus smaller than k exhausts; no error, the report simply stops
    — r10 edge pin). All-duplicate corpora select deterministically:
    every remaining point is at distance 0, the argmax tie-break
    walks ascending vec_id. ``mind`` is the distance to the nearest
    already-selected center at selection time (0.0 for the seed by
    convention).
    """
    from mhw3d_detection_spark.queries.base import rq

    def _lit_vec(vals):
        return F.array(*[F.lit(float(x)) for x in vals])

    def _l2(vcol, lit_vec):
        return F.sqrt(
            F.aggregate(
                F.zip_with(vcol, lit_vec, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    base = emb.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    )
    seed_rows = base.filter(F.col("vec_id") == int(seed_id)).collect()
    if not seed_rows:
        raise ValueError(f"kcenter_select: seed vec_id {seed_id} not found")
    picked = [(1, int(seed_id), 0.0)]
    center = seed_rows[0]["v"]
    state = (
        base.filter(F.col("vec_id") != int(seed_id))
        .select("vec_id", "v", rq(_l2(F.col("v"), _lit_vec(center)), 6).alias("d"))
        .localCheckpoint()
    )
    for r in range(2, int(k) + 1):
        far = state.orderBy(F.desc("d"), "vec_id").limit(1).collect()
        if not far:
            break
        vid, vec, mind = far[0]["vec_id"], far[0]["v"], far[0]["d"]
        picked.append((r, int(vid), float(mind)))
        if r == int(k):
            break
        state = (
            state.filter(F.col("vec_id") != vid)
            .select(
                "vec_id",
                "v",
                F.least(
                    F.col("d"), rq(_l2(F.col("v"), _lit_vec(vec)), 6)
                ).alias("d"),
            )
            .localCheckpoint()
        )
    spark = emb.sparkSession
    return spark.createDataFrame(
        picked, "rank int, vec_id long, mind double"
    )


def srp_planes(
    n_bits: int = 16, dim: int = 64, seed: int = 1213
) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-random-projection
    LSH — generated in PYTHON (shared-literal transcendental rule:
    both engines consume the identical doubles; shortest-repr text
    round-trips them exactly in SQL)."""
    import random

    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)
    ]


def srp_sig_col(
    vec: Column,
    *,
    n_bits: int = 16,
    dim: int = 64,
    seed: int = 1213,
) -> Column:
    """The ONE copy of the SRP fingerprint expression (per-term
    dyadic-quantized hyperplane dots → sign bits → packed integer) —
    shared by :func:`srp_signatures` and the streaming gate
    (``streaming.sessionize.streaming_srp_decontaminate_gate``) so
    the two cannot drift (the ``hll_reg_rho`` /
    ``composite_quality_col`` pattern; code-review r10 #7). ``vec``
    must already be array<double> of length ``dim`` with no NULL
    elements — callers own the validity filter."""
    from mhw3d_detection_spark.operators.analysis import dyadic_quantize

    sig = None
    for j, plane in enumerate(srp_planes(n_bits, dim, seed)):
        r = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec, r, lambda x, y: dyadic_quantize(x * y, 24)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = (dot >= 0).cast("long") * F.lit(1 << j)
        sig = bit if sig is None else sig + bit
    return sig


def srp_signatures(
    emb: DataFrame,
    *,
    n_bits: int = 16,
    dim: int = 64,
    seed: int = 1213,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-random-projection (hyperplane) LSH fingerprints for COSINE
    similarity (Charikar STOC'02): bit j = [r_j · v >= 0] for n_bits
    literal Gaussian hyperplanes. P[bit differs] = angle(u, v)/π, so
    Hamming distance between fingerprints estimates the angle — the
    embedding-space analogue of SimHash (token multisets) and MinHash
    (shingle sets), completing the LSH family over the third distance
    the corpus actually uses (cosine on dense vectors). One integer of
    index state per vector; mergeable by construction (signatures are
    row-local, a new snapshot just appends).

    Exactness: each product term is dyadic-quantized (2^-24 grid)
    BEFORE the fold, so the dot is an order-free exact sum — the sign
    compares identical bits cross-engine; plane literals come from
    :func:`srp_planes` (no runtime randomness, no runtime
    transcendentals). Ragged / NULL-element / NULL vectors are DATA:
    dropped, same contract as cosine_topk.

    Returns ``(vec_id, srp_sig)`` — srp_sig in [0, 2^n_bits).
    """
    base = emb.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    ).filter(
        (F.size("v") == dim)
        & ~F.exists("v", lambda x: x.isNull())
    )
    return base.select(
        "vec_id",
        srp_sig_col(
            F.col("v"), n_bits=n_bits, dim=dim, seed=seed
        ).alias("srp_sig"),
    )


def srp_lsh_pairs(
    emb: DataFrame,
    *,
    n_bits: int = 16,
    n_blocks: int = 4,
    max_hamming: int = 2,
    dim: int = 64,
    seed: int = 1213,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate CANDIDATE PAIRS via SRP-LSH banding —
    the cosine leg of the dedup family's candidate generators, with
    the same Manku block-permutation geometry as
    ``textops.simhash_hamming_pairs``: fingerprints within Hamming
    ``d <= n_blocks - 1`` agree exactly on one of ``n_blocks`` bit
    blocks (pigeonhole), so candidates come from an equi-join on
    ``(block_id, block_bits)`` — never an all-pairs sweep — and
    ``bit_count(xor)`` verifies only the collisions. Versus SemDeDup
    (k-means cells + within-cell cosine): no trainer, no centroids to
    version — signatures are pure row-local literals, the right shape
    for INCREMENTAL corpora where a trained quantizer would drift.

    ``est_cos`` attaches the angle estimate cos(π·hamming/n_bits) as a
    SHARED-LITERAL lookup (values precomputed in Python — no runtime
    trig; the same device as the harmonic dim).

    Returns ``(vec_id_a, vec_id_b, hamming, est_cos)``,
    ``vec_id_a < vec_id_b``, ``hamming <= max_hamming``.
    """
    import math

    assert max_hamming < n_blocks, "pigeonhole needs d < n_blocks"
    assert n_bits % n_blocks == 0, "blocks must tile the fingerprint"
    sig = srp_signatures(
        emb, n_bits=n_bits, dim=dim, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    bw = n_bits // n_blocks
    blocks = sig.select(
        "vec_id",
        "srp_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_id"),
                        F.shiftright(F.col("srp_sig"), b * bw)
                        .bitwiseAND(F.lit((1 << bw) - 1))
                        .alias("block_bits"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("bk"),
    ).select(
        "vec_id", "srp_sig",
        F.col("bk.block_id").alias("block_id"),
        F.col("bk.block_bits").alias("block_bits"),
    )
    a = blocks.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("srp_sig").alias("sig_a"),
        "block_id", "block_bits",
    )
    b = blocks.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("srp_sig").alias("sig_b"),
        "block_id", "block_bits",
    )
    est = None
    for h in range(max_hamming, -1, -1):
        v = F.lit(float(math.cos(math.pi * h / n_bits)))
        est = v if est is None else F.when(
            F.col("hamming") == h, v
        ).otherwise(est)
    return (
        a.join(b, ["block_id", "block_bits"])
        .filter(F.col("vec_id_a") < F.col("vec_id_b"))
        .select(
            "vec_id_a",
            "vec_id_b",
            F.expr("bit_count(sig_a ^ sig_b)").alias("hamming"),
        )
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .distinct()
        .withColumn("est_cos", est)
    )


def mutual_nn_pairs(
    emb: DataFrame,
    panel_pred,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_panel: int | None = None,
) -> DataFrame:
    """Reciprocal nearest-neighbor pairs within a panel: (a, b) such
    that b is a's cosine top-1 AND a is b's — the high-precision
    verification primitive semantic dedup and bitext/pair mining use
    on top of any candidate generator (a one-directional top-1 is
    noisy at density boundaries; mutuality filters the hubness
    artifacts out). Panel-bounded: both probe sets are the SAME
    ``panel_pred`` slice, so this is the two-phase top-k machinery
    twice on a bounded panel — at full scale the panel is a sampled
    audit set, and the near-dup generators (MinHash/SimHash/SRP)
    remain the corpus-scale path. ``max_panel`` ENFORCES that contract
    (r11): when set, the panel is deterministically capped to at most
    that many vectors by md5-order rank, bounding the |panel|² compare
    work no matter what fraction ``panel_pred`` matches.

    Returns ``(vec_id_a, vec_id_b, cosine)``, a < b, cosine rq6.
    """
    from mhw3d_detection_spark.queries.base import rq

    panel = emb.filter(panel_pred(F.col(id_col)))
    if max_panel is not None:
        # the constant-panel production contract, enforceable — the
        # edit-verify max_len pattern (r11)
        panel = md5_order_cap(panel, id_col, max_panel)
    t1 = cosine_topk(
        panel, lambda c: F.lit(True), k=1, id_col=id_col, vec_col=vec_col
    ).select("probe_id", "vec_id", "cosine")
    a = t1.select(
        F.col("probe_id").alias("vec_id_a"),
        F.col("vec_id").alias("vec_id_b"),
        "cosine",
    )
    b = t1.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("probe_id").alias("vec_id_b"),
    )
    return (
        a.join(b, ["vec_id_a", "vec_id_b"])
        .filter(F.col("vec_id_a") < F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b", rq("cosine", 6).alias("cosine"))
    )


def silhouette_by_label(
    emb: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster label — the
    standard clustering-quality audit at corpus scale: a(i) = distance
    to the OWN centroid, b(i) = distance to the nearest OTHER centroid,
    s(i) = (b-a)/max(a,b); the full-pairwise silhouette is O(n²) and
    never runs on real corpora, the centroid form is the documented
    O(n·k·d) approximation (sklearn's trick for large n).

    Plan: centroids = ONE (label, dim) hash aggregate (labels×dims
    rows); each vector is exploded once and joined to the BROADCAST
    centroid table, giving one partial-distance row per
    (vector, candidate label, dim), reduced by a (vec, label) hash
    aggregate — map-side combine keeps the shuffle at n·k rows. No
    pair joins, no UDFs.

    Exactness: centroid components and per-dim squared gaps are
    dyadic-quantized (2^-20) so the cross-engine sums are order-free;
    the per-vector s is dyadic-quantized before the per-label mean.

    Contract: vectors share one dimensionality. A ragged vector joins
    only its own dims and gets a SUBSPACE distance (silently small) —
    run the E3t norm audit / the arrow row's dirty-vector screen
    first if the corpus may be ragged.

    Returns one row per label:
    ``(label, n_vecs, mean_silhouette, n_negative)`` — n_negative
    counts vectors closer to a FOREIGN centroid (likely mislabeled /
    boundary mass).
    """
    from mhw3d_detection_spark.operators.analysis import dyadic_quantize

    # ONE centroid implementation repo-wide: label_centroids supplies
    # the (label, dim) means; only the dyadic quantization is local
    cent = label_centroids(
        emb, label_col=label_col, id_col=id_col, vec_col=vec_col
    ).select(
        F.col(label_col).alias("cl"),
        "dim_idx",
        dyadic_quantize("mean_val", 20).alias("cq"),
    )
    ex = emb.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("own"),
        F.posexplode(as_double(F.col(vec_col))).alias("dim_idx", "v"),
    )
    parts = ex.join(F.broadcast(cent), "dim_idx").select(
        "vid",
        "own",
        "cl",
        dyadic_quantize(
            (F.col("v") - F.col("cq")) * (F.col("v") - F.col("cq")), 20
        ).alias("d2t"),
    )
    d2 = parts.groupBy("vid", "own", "cl").agg(
        F.sum("d2t").alias("d2")
    )
    per_vec = d2.groupBy("vid", "own").agg(
        F.max(F.when(F.col("cl") == F.col("own"), F.sqrt("d2"))).alias("a"),
        F.min(F.when(F.col("cl") != F.col("own"), F.sqrt("d2"))).alias("b"),
    )
    s = F.when(
        F.greatest("a", "b") > 0,
        (F.col("b") - F.col("a")) / F.greatest("a", "b"),
    ).otherwise(F.lit(0.0))
    scored = per_vec.filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    ).select(
        "own", dyadic_quantize(s, 20).alias("sq")
    )
    return scored.groupBy(F.col("own").alias(label_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.avg("sq").alias("mean_silhouette"),
        F.sum((F.col("sq") < 0).cast("int")).cast("long").alias("n_negative"),
    )


def embedding_norm_stats(
    emb: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label L2-norm distribution audit — the 30-second embedding
    sanity check before any cosine machinery: un-normalized or
    degenerate (near-zero / exploding) vectors break every similarity
    score downstream, and a label whose norm band differs from the
    rest usually means a different encoder version leaked in.

    One narrow projection computes each vector's norm in declared
    index order (row-local fold, no shuffle), dyadic-quantized
    (2^-20) so the per-label mean is order-free; ONE labels-sized hash
    aggregate. Returns ``(label, n_vecs, mean_norm, min_norm,
    max_norm, n_near_zero)``.
    """
    from mhw3d_detection_spark.operators.analysis import dyadic_quantize

    nq = dyadic_quantize(norm(as_double(F.col(vec_col))), 20)
    per = emb.select(F.col(label_col).alias("label"), nq.alias("nq"))
    return per.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.avg("nq").alias("mean_norm"),
        F.min("nq").alias("min_norm"),
        F.max("nq").alias("max_norm"),
        F.sum((F.col("nq") < 1e-6).cast("int")).cast("long").alias(
            "n_near_zero"
        ),
    )
