"""Similarity search over embedding columns (``array<float>``).

Two paths, both DataFrame-first:

  * ``cosine_topk``        — exact brute-force top-k neighbors per query
                             vector. The dot product is a JVM-side
                             ``F.aggregate``/``F.zip_with`` fold (no Python),
                             ranked with a per-query window. Baseline and
                             oracle-checkable.
  * ``lsh_topk``           — random-hyperplane LSH bucketing (signed
                             projections → bit signature → band buckets);
                             candidates only from shared buckets, then exact
                             cosine re-rank. The scale path: candidate
                             generation is a bucket-key equi-join, never an
                             all-pairs product.
  * ``cosine_pairs``       — all pairs above a cosine threshold (embedding
                             near-dup detection), exact or LSH-bucketed.

Scale notes (100 TB):
  * brute force is O(|Q|·|C|) row pairs — fine when one side broadcasts
    (queries ≪ corpus), which is the common "search" shape; the plan below
    is an explicit ``broadcast(queries)`` crossJoin so Spark never shuffles
    the corpus;
  * LSH reduces the pair space to per-bucket blocks; hyperplanes are a tiny
    deterministic literal array compiled into the plan (seeded NumPy), so
    signatures are reproducible across engines and in the DuckDB oracle;
  * at extreme corpus sizes, partition the corpus by bucket (bucketBy on the
    signature) so repeated queries prune scans — noted in the docstring
    rather than done here because the fixture corpus is a single file.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import materialize as _materialize


def collision_prob(sim: float, n_planes: int, bands: int) -> float:
    """P(a pair at cosine ``sim`` becomes an LSH candidate).

    Random-hyperplane model (Charikar, STOC'02): one plane agrees with
    probability p = 1 − arccos(sim)/π; a pair collides when ALL
    r = n_planes/bands planes of at least one band agree:
    1 − (1 − p^r)^bands.
    """
    if bands <= 0 or n_planes % bands:
        raise ValueError("bands must be positive and divide n_planes")
    r = n_planes // bands
    p = 1.0 - math.acos(max(-1.0, min(1.0, sim))) / math.pi
    return 1.0 - (1.0 - p ** r) ** bands


def lsh_params(
    threshold: float,
    target_recall: float = 0.9,
    *,
    max_planes: int = 256,
) -> tuple[int, int]:
    """Banding parameters (n_planes, bands) achieving ``target_recall`` for
    pairs AT the similarity threshold — callers state intent (threshold +
    recall) instead of magic plane/band counts.

    Picks the largest rows-per-band r (sharpest bucket selectivity → fewest
    false candidates to verify) whose required band count
    b = ⌈log(1−recall) / log(1−p^r)⌉ still fits r·b ≤ max_planes; pairs
    MORE similar than the threshold then collide with probability strictly
    above the target (collision_prob is monotone in sim).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if not 0.0 < target_recall < 1.0:
        raise ValueError("target_recall must be in (0, 1)")
    p = 1.0 - math.acos(threshold) / math.pi
    for r in range(max_planes, 0, -1):
        miss = 1.0 - p ** r  # one band misses
        if miss >= 1.0:
            continue
        b = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(miss)))
        if r * b <= max_planes:
            return r * b, b
    raise ValueError(
        f"no banding within max_planes={max_planes} reaches recall "
        f"{target_recall} at threshold {threshold}; raise max_planes")


def checked_width(df: DataFrame, vec_col: str, dim: int,
                  what: str = "model") -> DataFrame:
    """Replace ``vec_col`` with a width-asserting view of itself: any row
    whose array length ≠ ``dim`` raises a clear error at execution time.

    Guards every literal-model path (hyperplanes, IVF centroids, PQ
    codebooks): a mismatched ``dim`` would otherwise degrade SILENTLY —
    ``zip_with`` pads the shorter side with NULLs, so dot products go NULL,
    signature bits collapse to 0, and recall quietly craters instead of
    erroring. One ``size()`` comparison per row (negligible next to the
    fold it guards), no extra driver job, and it works on streaming frames
    where a collect-probe could not.

    NULL vectors are DROPPED, not passed through: a missing embedding is a
    data condition, not a model-width error — but letting it flow into the
    PQ/ADC paths is silently WRONG, because a NULL lookup table / NULL
    codes make ``pq_dist`` NULL and Spark's ascending sort puts NULLs
    FIRST, so the NULL row's garbage candidates would take ranks 1..k.
    Dropping the row here gives every literal-model path one uniform
    semantic: rows without an embedding simply don't participate (the
    behavior the cosine paths already had via NULL dot products). Raising
    instead would also fire ``raise_error`` with a NULL message
    (``F.size(NULL)`` nulls the concat), losing the diagnostic.
    """
    c = F.col(vec_col)
    return df.where(c.isNotNull()).withColumn(
        vec_col,
        F.when(F.size(c) == dim, c).otherwise(
            F.raise_error(F.concat(
            F.lit(f"embedding width mismatch in {vec_col!r}: {what} "
                  f"expects dim={dim}, found row with size "),
            F.size(c).cast("string"),
            F.lit(" — pass the actual embedding width (or retrain the "
                  "model at it)")))))


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two array<float/double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb))


def _top_k_by_cosine(scored: DataFrame, k: int) -> DataFrame:
    """The exact searchers' rank tail over a (query_id, neighbor_id,
    cos_sim) frame: NULL scores (a zero-norm side) dropped, then
    ``rnk`` = row_number per query by (cos_sim desc, neighbor_id asc),
    rnk <= k. Without the drop NULL-score rows take ranks <= k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (scored.where(F.col("cos_sim").isNotNull())
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors in ``corpus`` for every row of ``queries``.

    Returns (query_id, neighbor_id, cos_sim, rnk) with rnk 1..k per query,
    ordered by similarity desc, neighbor id asc on ties (deterministic).

    Plan: broadcast(queries) × corpus → JVM fold dot/norm → per-query
    row_number window. The corpus side never shuffles; the only exchange is
    the tiny per-query top-k aggregation.
    """
    query_id_col = query_id_col or id_col
    # norms staged per ROW on both sides: the |Q|×|C| cross join then
    # runs one fold (the dot) per pair instead of three — same float
    # ops in the same order, bit-identical scores (r14 review)
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    sim = F.when(
        (F.col("_qn") > 0) & (F.col("_cn") > 0),
        dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")))
    return _top_k_by_cosine(
        c.crossJoin(F.broadcast(q))
        .select("query_id", "neighbor_id", sim.alias("cos_sim")), k)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (seeded NumPy, compiled as literals)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def lsh_signature(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-projection bit signature as array<int> (1 if v·h >= 0 else 0).

    Built as ONE SQL expression string (see ``_l2_sql`` note): n_planes
    dot-product folds as Column trees cost seconds of py4j round-trips
    per call. ``vec`` may be a Column (must be a plain named column) or a
    column name.
    """
    name = vec if isinstance(vec, str) else vec._jc.toString()  # noqa: SLF001
    bits = ", ".join(
        "IF(aggregate(zip_with(`{v}`, array({arr}), (a, b) -> a * b), 0D, "
        "(acc, x) -> acc + x) >= 0, 1, 0)".format(
            v=name, arr=", ".join(f"{float(x)!r}D" for x in plane))
        for plane in planes
    )
    return F.expr(f"array({bits})")


def lsh_buckets(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
    bands: int,
) -> DataFrame:
    """(id, vec, band, bucket) rows — one row per band, bucket = the band's
    signature bits rendered as a string key (join key for candidates)."""
    n = len(planes)
    if n % bands != 0:
        raise ValueError("bands must divide number of hyperplanes")
    rows = n // bands
    df = checked_width(df, vec_col, len(planes[0]), "LSH hyperplanes")
    sig = lsh_signature(vec_col, planes)
    out = df.select(F.col(id_col), F.col(vec_col), sig.alias("_sig"))
    band_struct = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.concat_ws(
                    "", F.transform(F.slice(F.col("_sig"), b * rows + 1, rows), lambda x: x.cast("string"))
                ).alias("bucket"),
            ),
        )
    )
    return out.select(id_col, vec_col, band_struct.alias("_b")).select(
        id_col, vec_col, "_b.band", "_b.bucket"
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    k: int = 10,
    n_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 LSH band bucket with the query,
    then exact cosine re-rank. Same output shape as ``cosine_topk`` (rnk may
    stop short of k when buckets are sparse — that's the approximation).

    Ids-only banding (the ``cosine_pairs`` shape): the band frames carry
    ``(id, band, bucket)`` ONLY, so the band-bucket join exchange and the
    candidate-dedup shuffle move 8-byte ids + tiny bucket keys instead of
    the embedding column replicated ×bands (corpus-scale vector traffic
    through two exchanges — the r14 review item). Vectors are re-attached
    to the already-deduplicated candidate set via one equi-join per side,
    with L2 norms staged per row on each join leg (one fold per pair;
    same float-op sequence as ``cosine()``, bit-identical scores).
    """
    query_id_col = query_id_col or id_col
    planes = hyperplanes(dim, n_planes, seed)
    q_named = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col))
    cb = lsh_buckets(
        corpus, id_col=id_col, vec_col=vec_col, planes=planes, bands=bands
    ).select(id_col, "band", "bucket")
    qb = lsh_buckets(
        q_named, id_col="query_id", vec_col=vec_col, planes=planes,
        bands=bands,
    ).select("query_id", "band", "bucket")
    cand_ids = (
        cb.join(qb, ["band", "bucket"])
        .select("query_id", F.col(id_col).alias("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cand = (
        cand_ids
        .join(q_named.select("query_id", F.col(vec_col).alias("_qv"),
                             l2_norm(F.col(vec_col)).alias("_qn")),
              "query_id")
        .join(corpus.select(F.col(id_col).alias("neighbor_id"),
                            F.col(vec_col).alias("_cv"),
                            l2_norm(F.col(vec_col)).alias("_cn")),
              "neighbor_id")
    )
    sim = F.when(
        (F.col("_qn") > 0) & (F.col("_cn") > 0),
        dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")))
    return _top_k_by_cosine(
        cand.select("query_id", "neighbor_id", sim.alias("cos_sim")), k)


def train_ivf_centroids(
    sample: np.ndarray, n_clusters: int, *, n_iters: int = 10
) -> list[list[float]]:
    """Deterministic Lloyd's k-means over an in-memory SAMPLE (the standard
    way IVF coarse quantizers are trained at scale: the index trains on a
    bounded sample, never the full corpus). Cosine assignment (matching the
    search metric), init = the first ``n_clusters`` sample rows, fixed
    ``n_iters`` — fully reproducible in pure NumPy, so the DuckDB oracle
    can inline the identical centroid literals. Returns centroids rounded
    to 6 decimals (the literal precision both engines compile in)."""
    x = np.asarray(sample, dtype=np.float64)
    if len(x) < n_clusters:
        raise ValueError(
            f"sample ({len(x)} rows) smaller than n_clusters="
            f"{n_clusters}; x[:n_clusters] would silently return a "
            "smaller model and desync every cell-count assumption")
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    cents = x[:n_clusters].copy()
    for _ in range(n_iters):
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        assign = np.argmax(xn @ cn.T, axis=1)
        for c in range(n_clusters):
            members = x[assign == c]
            if len(members):  # empty cluster keeps its previous centroid
                cents[c] = members.mean(axis=0)
    return np.round(cents, 6).tolist()


def nearest_cells(vec_name: str, centroids: list[list[float]], n: int):
    """Column of the n nearest centroid ids by cosine (literal centroids —
    the model broadcasts as plan constants). One SQL expression string (see
    ``_l2_sql`` note on py4j build cost); operators identical to the
    equivalent Column-tree form."""
    def dot(arr):
        return ("aggregate(zip_with(`{v}`, array({a}), (x, y) -> x * y)"
                ", 0D, (acc, x) -> acc + x)").format(
            v=vec_name, a=", ".join(f"{float(x)!r}D" for x in arr))

    vnorm = (f"sqrt(aggregate(`{vec_name}`, 0D, "
             f"(acc, x) -> acc + x * x))")

    def cnorm(arr):  # same sequential fold the oracle runs — NOT a
        # precomputed numpy norm, whose pairwise sum differs in low bits
        return ("sqrt(aggregate(array({a}), 0D, "
                "(acc, x) -> acc + x * x))").format(
            a=", ".join(f"{float(x)!r}D" for x in arr))

    # degenerate cosine (zero-norm vector or centroid) is coalesced to
    # +Infinity so it ranks LAST: array_sort puts NULL struct fields
    # FIRST, which made a zero-norm centroid the "nearest" cell for
    # every vector — collapsing IVF assignment into one cell (r14
    # review, verified against array_sort's struct ordering)
    scored = ", ".join(
        "named_struct('neg', coalesce(-(CASE WHEN {vn} > 0 AND {cn} > 0 "
        "THEN {d} / ({vn} * {cn}) END), cast('Infinity' as double)), "
        "'cid', {i})".format(
            vn=vnorm, cn=cnorm(c), d=dot(c), i=i)
        for i, c in enumerate(centroids)
    )
    return F.expr(
        f"slice(array_sort(array({scored})), 1, {n}).cid")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantizer cells.

    Assign every corpus vector to its nearest centroid (the inverted
    lists), then search each query only in its ``n_probe`` nearest cells
    with exact cosine re-ranking. Pass ``centroids`` (e.g. from
    ``train_ivf_centroids`` over a deterministic sample — the
    oracle-checkable path) or leave None to train MLlib KMeans on the full
    corpus (seeded, but not reproducible outside Spark).

    Scale path: centroids are a tiny broadcast model; candidate volume is
    ~``n_probe/n_clusters`` of the corpus per query. For 100 TB embeddings,
    persist the assignment (cluster id column, partitioned/bucketed by it)
    so repeated queries prune to probed cells at scan time.
    """
    query_id_col = query_id_col or id_col
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        # NULL embeddings must be dropped BEFORE training: MLlib's
        # array_to_vector crashes on NULL with an opaque UDF error,
        # while the documented contract is that rows without an
        # embedding simply don't participate (r14 review, reproduced)
        train = corpus.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col), array_to_vector(F.col(vec_col)).alias("features"))
        model = KMeans(k=n_clusters, seed=seed, featuresCol="features").fit(train)
        centroids = [c.tolist() for c in model.clusterCenters()]

    def _nearest_cells(vec_name: str, n: int):
        return nearest_cells(vec_name, centroids, n)

    dim = len(centroids[0])
    corpus = checked_width(corpus, vec_col, dim, "IVF centroids")
    queries = checked_width(queries, vec_col, dim, "IVF centroids")
    c_assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"),
        _nearest_cells(vec_col, 1)[0].alias("cell"),
    )
    q_assigned = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
        F.explode(_nearest_cells(vec_col, n_probe)).alias("cell"),
    )
    return _top_k_by_cosine(
        c_assigned.join(q_assigned, "cell")
        .select("query_id", "neighbor_id",
                cosine(F.col("_qv"), F.col("_cv")).alias("cos_sim")), k)


def ivf_probe_params(
    sample: np.ndarray,
    centroids: list[list[float]],
    *,
    target_recall: float = 0.9,
    k: int = 10,
) -> int:
    """Smallest ``n_probe`` whose empirical top-``k`` recall on the training
    SAMPLE meets ``target_recall`` — the IVF mirror of ``lsh_params``:
    callers state intent (recall target) instead of a magic probe count.

    IVF recall has no closed form (it depends on how the corpus actually
    clusters), so this calibrates the standard way production indexes do:
    each sample vector queries the rest of the sample; a true top-k
    neighbor is recovered iff its assigned cell ranks within the query's
    first ``p`` probed cells; recall(p) = mean recovered fraction. Pure
    deterministic NumPy over the same bounded sample the quantizer trained
    on — the model never sees the full corpus. Monotone in p and exact at
    p = n_clusters (recall 1.0), so a valid answer always exists.
    """
    if not 0.0 < target_recall <= 1.0:
        raise ValueError("target_recall must be in (0, 1]")
    x = np.asarray(sample, dtype=np.float64)
    n = len(x)
    if n < 2:
        raise ValueError("need at least 2 sample vectors to calibrate")
    k = min(k, n - 1)
    cents = np.asarray(centroids, dtype=np.float64)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    cell_sims = xn @ cn.T                     # (n, n_clusters)
    assign = np.argmax(cell_sims, axis=1)     # corpus-side cell per vector
    # probe depth of cell c for query q = 1 + its rank in q's cell ordering
    order = np.argsort(-cell_sims, axis=1, kind="stable")
    depth = np.empty_like(order)
    np.put_along_axis(
        depth, order,
        np.broadcast_to(np.arange(order.shape[1]), order.shape), axis=1)
    sims = xn @ xn.T
    np.fill_diagonal(sims, -np.inf)           # a vector is not its own match
    topk = np.argsort(-sims, axis=1, kind="stable")[:, :k]  # (n, k)
    # needed[i, j] = probes query i must make to recover its j-th neighbor
    needed = depth[np.arange(n)[:, None], assign[topk]] + 1
    for p in range(1, len(cents) + 1):
        if (needed <= p).mean() >= target_recall:
            return p
    return len(cents)


def train_pq_codebooks(
    sample: np.ndarray, *, m: int = 8, k: int = 16, n_iters: int = 10
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the dimension into ``m``
    subspaces and run deterministic Lloyd's (L2, init = first ``k`` sample
    rows, fixed iterations) per subspace — same sample-trained-model shape
    as ``train_ivf_centroids``, so the DuckDB oracle inlines identical
    literals. Returns m codebooks of k centroids each (rounded 6)."""
    x = np.asarray(sample, dtype=np.float64)
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError("m must divide the embedding dimension")
    d = dim // m
    books = []
    for s in range(m):
        sub = x[:, s * d:(s + 1) * d]
        cents = sub[:k].copy()
        for _ in range(n_iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(np.round(cents, 6).tolist())
    return books


def _l2_sql(sub: str, cent: list[float]) -> str:
    """Squared L2 of subvector expr ``sub`` to a literal centroid, as a
    SQL fragment. The PQ expressions are built as SQL STRINGS, not Column
    trees: m*k folds worth of py4j Column construction cost ~4-5 s of
    driver time PER CALL (thousands of round-trips), while one F.expr
    string parses JVM-side in milliseconds — identical operators either
    way. Literals carry the D suffix so SQL parses them as DOUBLE (bare
    decimals default to DECIMAL)."""
    arr = ", ".join(f"{float(x)!r}D" for x in cent)
    return (f"aggregate(zip_with({sub}, array({arr}), "
            f"(a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)")


def _codes_sql(codebooks: list[list[list[float]]]) -> str:
    """SQL for the per-subspace nearest-centroid codes over staged _s<i>
    slices — THE single definition shared by pq_encode and the persisted
    index builder (any drift between them would desync stored codes from
    in-flight scoring)."""
    kk = len(codebooks[0])
    return "array(" + ", ".join(
        "element_at(array_sort(array(" + ", ".join(
            f"named_struct('d', {_l2_sql(f'_s{s}', book[j])}, 'cid', {j})"
            for j in range(kk)
        ) + ")), 1).cid"
        for s, book in enumerate(codebooks)
    ) + ")"


def _lut_sql(codebooks: list[list[list[float]]]) -> str:
    """SQL for a query's ADC lookup table (exact squared L2 to every
    centroid of every subspace) over staged _s<i> slices — shared by
    pq_topk and the persisted-index search."""
    kk = len(codebooks[0])
    return "array(" + ", ".join(
        "array(" + ", ".join(_l2_sql(f"_s{s}", book[j]) for j in range(kk))
        + ")"
        for s, book in enumerate(codebooks)
    ) + ")"


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` one-byte codes (nearest centroid per
    subspace, L2; ties to the lower code id). Map-only, JVM-side — a
    64-dim float vector compresses to m small ints, the representation a
    100 TB corpus actually stores. Output: (id, codes array<int>).

    The subvector slices are STAGED as named columns first: interpreted
    higher-order expressions are excluded from subexpression elimination,
    so referencing ``slice(vec, ...)`` from all k per-centroid folds would
    recompute it k times (the columnar.py staging lesson).
    """
    m, d = len(codebooks), len(codebooks[0][0])
    staged = checked_width(df, vec_col, m * d, "PQ codebooks").select(
        F.col(id_col),
        *[F.slice(F.col(vec_col), s * d + 1, d).alias(f"_s{s}")
          for s in range(m)],
    )
    return staged.select(
        F.col(id_col), F.expr(_codes_sql(codebooks)).alias("codes"))


def adc_dist() -> Column:
    """THE asymmetric-distance expression shared by every ADC scorer
    (``pq_topk``, ``ivfpq_topk``, ``ann_index.search_ivfpq_index``):
    a candidate's squared-L2 estimate is m array lookups — fold the
    query's per-subspace lookup table ``_lut`` over the stored ``codes``.
    One definition so the three searchers cannot drift on scoring
    semantics (r14 review item)."""
    return F.aggregate(
        F.zip_with(F.col("_lut"), F.col("codes"),
                   lambda t, code: F.element_at(t, code + 1)),
        F.lit(0.0), lambda acc, x: acc + x)


def adc_rank_refine(
    scored: DataFrame,
    *,
    k: int,
    refine: int | None,
    rerank,
) -> DataFrame:
    """Shared rank/refine tail of the ADC searchers over a
    (query_id, neighbor_id, pq_dist) frame: row_number per query by
    (pq_dist asc, neighbor id asc); ``refine=None`` returns the ADC
    top-``k`` as-is, else validates ``refine >= k`` and hands the
    bounded (query_id, neighbor_id) candidate ids to ``rerank`` (the
    caller's exact re-scoring closure — corpus floats, quantized index
    vectors, ...). One definition of the ranking/threshold semantics
    for all three ADC call sites (r14 review item)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_dist").asc(), F.col("neighbor_id").asc())
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    if refine is None:
        return ranked.where(F.col("rnk") <= k)
    if refine < k:
        raise ValueError(f"refine ({refine}) must be >= k ({k})")
    cand = ranked.where(F.col("rnk") <= refine) \
        .select("query_id", "neighbor_id")
    return rerank(cand)


def _exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int,
) -> DataFrame:
    """Refine stage shared by the PQ searchers: exact cosine over the
    (query_id, neighbor_id) CANDIDATE set only, per-query top-k. The
    candidate frame is bounded (queries × refine rows), so it broadcasts
    into the corpus scan — the corpus side stays map-only and only
    candidate vectors are ever scored."""
    cvec = corpus.select(F.col(id_col).alias("neighbor_id"),
                         F.col(vec_col).alias("_cv"))
    qvec = queries.select(F.col(query_id_col).alias("query_id"),
                          F.col(vec_col).alias("_qv"))
    # degenerate (zero-norm) candidates score NULL and are dropped, or
    # "refine >= corpus EQUALS cosine_topk" breaks
    return _top_k_by_cosine(
        cvec.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select("query_id", "neighbor_id",
                cosine(F.col("_qv"), F.col("_cv")).alias("cos_sim")), k)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    k: int = 10,
    refine: int | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric PQ distance (ADC): the corpus is
    scanned as CODES only; each query precomputes one lookup table (its
    exact squared L2 to every centroid of every subspace — m*k folds per
    QUERY, not per pair), and a candidate's distance is m array lookups.

    Returns (query_id, neighbor_id, pq_dist, rnk), rnk by distance asc,
    neighbor id asc on ties. Plan: broadcast(queries+LUT) × corpus codes —
    the corpus side never shuffles and never touches float vectors.

    ``refine``: the production recall lever. ADC ranks near-tie
    neighbors by quantization noise (measured on clustered fixtures:
    recall@10 ≈ 0.35 even at k=256 codebooks — the codes FIND the right
    cluster but cannot ORDER within it), so real deployments re-rank:
    take the top-``refine`` ADC candidates per query, score exactly,
    return the exact top-``k`` — output becomes (query_id, neighbor_id,
    cos_sim, rnk) like ``cosine_topk``, and with ``refine`` >= corpus
    size it EQUALS ``cosine_topk`` (pinned in tests). Cost: the exact
    pass touches queries × refine vectors, not the corpus; the
    candidate ids broadcast into a second map-only corpus scan."""
    query_id_col = query_id_col or id_col
    m, d = len(codebooks), len(codebooks[0][0])
    qstaged = checked_width(queries, vec_col, m * d, "PQ codebooks").select(
        F.col(query_id_col).alias("query_id"),
        *[F.slice(F.col(vec_col), s * d + 1, d).alias(f"_s{s}")
          for s in range(m)],
    )
    q = qstaged.select("query_id", F.expr(_lut_sql(codebooks)).alias("_lut"))
    c = pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col) \
        .withColumnRenamed(id_col, "neighbor_id")
    scored = (
        c.crossJoin(F.broadcast(q))
        .select("query_id", "neighbor_id", adc_dist().alias("pq_dist"))
    )
    return adc_rank_refine(
        scored, k=k, refine=refine,
        rerank=lambda cand: _exact_rerank(
            cand, corpus, queries, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, k=k))


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    k: int = 10,
    n_probe: int = 4,
    refine: int | None = None,
) -> DataFrame:
    """IVF-PQ composed index — the production ANN shape for huge corpora.

    IVF prunes WHICH vectors are scored (each query probes only its
    ``n_probe`` nearest coarse cells, ~n_probe/n_clusters of the corpus);
    PQ shrinks WHAT is scored (candidates are m-byte code rows scored via
    the query's ADC lookup table — the float vectors are never touched at
    search time). Corpus side: one map-only pass assigns the cell and
    encodes the codes (at 100 TB this is the stored index: partition or
    bucket by ``cell`` so probes prune at scan time); query side: cells +
    LUT broadcast through the cell equi-join. Both models are
    sample-trained literals (``train_ivf_centroids`` /
    ``train_pq_codebooks``).

    Returns (query_id, neighbor_id, pq_dist, rnk) like ``pq_topk`` with
    candidates restricted to probed cells (rnk may stop short of k when
    probed cells are sparse — the IVF approximation). ``refine``: exact
    cosine re-rank of the top-``refine`` ADC candidates per query — see
    ``pq_topk``; output becomes (query_id, neighbor_id, cos_sim, rnk).
    """
    query_id_col = query_id_col or id_col
    m, d = len(codebooks), len(codebooks[0][0])
    if len(centroids[0]) != m * d:
        raise ValueError(
            f"inconsistent models: IVF centroids are dim "
            f"{len(centroids[0])} but PQ codebooks cover {m}*{d}={m * d}")
    corpus = checked_width(corpus, vec_col, m * d, "IVF-PQ models")
    queries = checked_width(queries, vec_col, m * d, "IVF-PQ models")
    cstaged = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        nearest_cells(vec_col, centroids, 1)[0].alias("cell"),
        *[F.slice(F.col(vec_col), s * d + 1, d).alias(f"_s{s}")
          for s in range(m)],
    )
    c = cstaged.select("neighbor_id", "cell",
                       F.expr(_codes_sql(codebooks)).alias("codes"))

    qstaged = queries.select(
        F.col(query_id_col).alias("query_id"),
        nearest_cells(vec_col, centroids, n_probe).alias("_cells"),
        *[F.slice(F.col(vec_col), s * d + 1, d).alias(f"_s{s}")
          for s in range(m)],
    )
    q = qstaged.select(
        "query_id", F.expr(_lut_sql(codebooks)).alias("_lut"),
        F.explode("_cells").alias("cell"))

    scored = (
        c.join(F.broadcast(q), "cell")
        .select("query_id", "neighbor_id", adc_dist().alias("pq_dist"))
        # a (query, neighbor) pair can match through several probed cells
        # only if the corpus row changed cells — it cannot (cell is 1 per
        # row) — so no dedup is needed before ranking
    )
    return adc_rank_refine(
        scored, k=k, refine=refine,
        rerank=lambda cand: _exact_rerank(
            cand, corpus, queries, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, k=k))


def cosine_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    use_lsh: bool = False,
    n_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 42,
    max_exact_rows: int | None = 100_000,
    target_recall: float | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Embedding near-duplicate pairs: (id_a, id_b, cos_sim) with id_a < id_b
    and cos_sim >= threshold. ``use_lsh`` switches candidate generation from
    the exact all-pairs join to LSH band buckets (the 100 TB path).

    ``target_recall`` (LSH path) states intent instead of magic numbers:
    n_planes/bands are derived via ``lsh_params`` so a pair at exactly
    ``threshold`` similarity is found with at least this probability
    (more-similar pairs with strictly higher probability).

    ``materialize`` (LSH path, batch frames): materializes (see
    ``session.materialize``) the (id, band, bucket) rows once before the
    self-join — Catalyst emits no ReusedExchange across the two sides, so
    the signature fold would otherwise run per side. Only the BUCKET KEYS
    are materialized, never the vectors (bands× replicated embeddings
    would pin corpus-scale blocks); vectors are re-attached
    candidate-scoped afterwards. Pass ``materialize=False`` for plan
    inspection without running jobs (the checkpoint truncates the plan at
    an ExistingRDD scan and is eager). Serving loops: see
    ``session.checkpoint_scope``.

    The exact path is O(n²) and exists for small-scale recall checks only;
    it REFUSES corpora larger than ``max_exact_rows`` (cheap bounded probe:
    scans at most max_exact_rows+1 rows) so a real corpus can never be
    cartesian-joined by accident. Pass ``max_exact_rows=None`` to disable
    the guard deliberately."""
    if use_lsh:
        if target_recall is not None:
            n_planes, bands = lsh_params(threshold, target_recall)
        planes = hyperplanes(dim, n_planes, seed)
        b = lsh_buckets(df, id_col=id_col, vec_col=vec_col, planes=planes,
                        bands=bands).select(id_col, "band", "bucket")
        if materialize:
            b = _materialize(b, reason="cosine_pairs.buckets")
        pair_ids = (
            b.alias("x")
            .join(b.alias("y"), ["band", "bucket"])
            .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
            .select(
                F.col(f"x.{id_col}").alias("id_a"),
                F.col(f"y.{id_col}").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        cand = (
            pair_ids
            .join(df.select(F.col(id_col).alias("id_a"),
                            F.col(vec_col).alias("_va"),
                            l2_norm(F.col(vec_col)).alias("_na")), "id_a")
            .join(df.select(F.col(id_col).alias("id_b"),
                            F.col(vec_col).alias("_vb"),
                            l2_norm(F.col(vec_col)).alias("_nb")), "id_b")
        )
    else:
        if max_exact_rows is not None:
            n = df.limit(max_exact_rows + 1).count()
            if n > max_exact_rows:
                raise ValueError(
                    f"cosine_pairs(use_lsh=False) is an O(n²) cross join "
                    f"and the corpus exceeds max_exact_rows="
                    f"{max_exact_rows}; use use_lsh=True (the scale path) "
                    f"or raise max_exact_rows explicitly")
        x = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
                      l2_norm(F.col(vec_col)).alias("_na"))
        y = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
                      l2_norm(F.col(vec_col)).alias("_nb"))
        cand = x.crossJoin(y).where(F.col("id_a") < F.col("id_b"))
    # norms staged per row on each join leg (one fold per pair, not
    # three — r14 review; same float ops, bit-identical scores)
    sim = F.when(
        (F.col("_na") > 0) & (F.col("_nb") > 0),
        dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")))
    return (
        cand.select("id_a", "id_b", sim.alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def embedding_dedup_groups(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    use_lsh: bool = True,
    n_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 42,
    target_recall: float | None = None,
    max_exact_rows: int | None = 100_000,
) -> DataFrame:
    """SEMANTIC near-duplicate groups: embedding-cosine pairs resolved to
    connected components — the last cell of the dedup matrix (exact /
    n-gram / MinHash / SimHash / CDC are lexical; this one catches
    paraphrases and translations that share no surface text).

    Composition of two proven stages: ``cosine_pairs`` (LSH-bucketed by
    default — the 100 TB candidate path; pass ``use_lsh=False`` only for
    small oracle cross-checks) feeding ``dedup.duplicate_groups``
    (edge-scoped label propagation + pointer jumping). Returns
    (id, group_id, group_size) for ids in multi-member groups only —
    group_id is the smallest member id (keep-first canonicalization:
    callers drop rows where id != group_id).
    """
    from .dedup import duplicate_groups

    pairs = cosine_pairs(
        df, id_col=id_col, vec_col=vec_col, threshold=threshold,
        use_lsh=use_lsh, n_planes=n_planes, bands=bands, dim=dim,
        seed=seed, target_recall=target_recall,
        max_exact_rows=max_exact_rows)
    groups = duplicate_groups(
        df.select(F.col(id_col)), pairs, id_col)
    return groups.where(F.col("group_size") > 1)


def semantic_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_clusters: int = 16,
    n_assign: int = 1,
    sample_rows: int = 4096,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    max_cell_rows: int | None = 100_000,
    materialize: bool = True,
) -> DataFrame:
    """Cluster-blocked near-duplicate candidate pairs — the SemDeDup
    recipe (Abbas et al. 2023, arXiv:2303.09540): k-means the embeddings,
    compare ONLY within a cluster. The alternative candidate generator to
    ``cosine_pairs(use_lsh=True)``: LSH bounds per-pair recall
    analytically; clustering exploits the corpus's own density structure
    (semantic near-dups sit in the same cell almost by definition) and
    reuses the exact centroid model the IVF index already maintains.

    Returns (id_a, id_b, cos_sim) with id_a < id_b, cos_sim >= threshold.

    * ``centroids`` — pass the corpus's existing IVF model to share it;
      None trains ``train_ivf_centroids`` on a bounded deterministic
      md5-ordered sample (same bounded-collect contract as every model
      fit in this repo: ``sample_rows`` rows, never the corpus);
    * ``n_assign`` — assign each vector to its n nearest cells (> 1
      recovers pairs straddling a cell boundary, the method's known
      blind spot; pairs sharing ANY cell are deduplicated);
    * ``max_cell_rows`` — per-cell cap: an over-dense cell keeps only its
      most-central ``max_cell_rows`` members as pair candidates (rank by
      centroid similarity — the cap trades recall on the cell's fringe,
      the same documented trade as the hot-shingle cap in
      ``dedup.ngram_jaccard_pairs``). The ranking window shuffles by the
      SAME key as the pair join, so enforcement rides the shuffle the
      join already pays.

    100 TB shape: the model is a literal broadcast; assignment is
    map-only; the pair join shuffles by cell (cells are bounded by the
    cap); no all-pairs path exists at any setting. SIZE ``n_clusters``
    WITH THE CORPUS: the cell id is the join key, so join parallelism
    (and per-task pair work ~ (n/k)²) is set by the cluster count — the
    SemDeDup paper runs ~11k clusters at web scale; a handful of cells
    serializes the join into a handful of hot tasks.
    """
    if centroids is None:
        # sanitize BEFORE sampling (r14 review, reproduced): a NULL
        # embedding's md5(concat(seed, NULL)) is NULL and ascending
        # orderBy is NULLS FIRST, so NULL rows filled the sample and
        # crashed the NumPy fit with an opaque inhomogeneous-shape
        # error — and a wrong-width row in the sample bypassed
        # checked_width's clear diagnostic. The width filter here
        # mirrors the post-train checked_width (first non-null row's
        # width is the corpus claim).
        clean = df.where(F.col(vec_col).isNotNull())
        samp = (
            clean.select(F.col(vec_col))
            .withColumn("_h", F.md5(F.concat(
                F.lit(str(seed)), F.col(vec_col).cast("string"))))
            .orderBy("_h").limit(sample_rows)
        )
        rows = [r[0] for r in samp.collect()]
        widths = {len(v) for v in rows}
        if len(widths) > 1:
            raise ValueError(
                f"semantic_pairs sample holds mixed embedding widths "
                f"{sorted(widths)}; fix the corpus or pass centroids=")
        vecs = np.array(rows, dtype=np.float64)
        if len(vecs) < n_clusters:
            raise ValueError(
                f"corpus sample ({len(vecs)} rows) smaller than "
                f"n_clusters={n_clusters}")
        centroids = train_ivf_centroids(vecs, n_clusters)
    dim = len(centroids[0])
    df = checked_width(df, vec_col, dim, "semantic_pairs centroids")
    # the row's norm is STAGED once here (and materialized by the
    # checkpoint below): the per-pair cosine then runs ONE fold (the
    # dot) instead of three — interpreted HOFs get no subexpression
    # elimination, so an O(n²) cell recomputed each member's norm once
    # per PAIR (r14 review; same float ops in the same order, so the
    # scores are bit-identical)
    assigned = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_nrm"),
        F.explode(
            nearest_cells(vec_col, centroids, n_assign)).alias("cell"),
    )
    if materialize:
        # the assignment expression (n_clusters interpreted cosine folds
        # per row — HOFs never reach codegen) would otherwise re-execute
        # per consumer: the hot-cell probe and BOTH self-join sides
        # (Catalyst gives the self-join no ReusedExchange — the
        # cosine_pairs precedent). Unlike the LSH path this materializes
        # the vector column too: within-cell candidates are dense, so
        # re-attaching vectors candidate-scoped would join against the
        # full pair fan-out — the worse trade here.
        assigned = _materialize(assigned, reason="semantic_pairs.assigned")
    if max_cell_rows is not None:
        # bounded probe first (one tiny aggregate job): the cap exists for
        # pathological density, so in the common no-hot-cell case the
        # whole ranking pass — measured at 2.5× the rest of the operator —
        # must cost nothing but this count.
        hot = (assigned.groupBy("cell")
               .agg(F.count(F.lit(1)).alias("_n"))
               .where(F.col("_n") > max_cell_rows).limit(1).count() > 0)
        if hot:
            # most-central members first. Centroid similarity comes from a
            # broadcast join against the tiny (cell, centroid) frame — ONE
            # interpreted cosine fold per row; the CASE-chain-over-model
            # alternative evaluates up to n_clusters folds per row
            # (measured 25 s vs this join's noise at 50k×64 cells).
            cent_rows = assigned.sparkSession.createDataFrame(
                [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
                "cell int, _cent array<double>")
            w = Window.partitionBy("cell").orderBy(
                cosine(F.col("_v"), F.col("_cent")).desc_nulls_last(),
                F.col("_id").asc())
            assigned = (
                assigned.join(F.broadcast(cent_rows), "cell")
                .withColumn("_rnk", F.row_number().over(w))
                .where(F.col("_rnk") <= max_cell_rows)
                .drop("_rnk", "_cent")
            )
    if not df.isStreaming:
        pairs = _cell_pairs_kernel(assigned, id_col, threshold, dim)
    else:
        # streaming frames keep the join formulation (groupBy.
        # applyInPandas is a batch-only operator); values are identical
        # by construction — the kernel reproduces the fold's float-op
        # order bit-exactly (see _cell_pairs_kernel).
        # EXPLICIT partition count for the pair join: AQE sizes the
        # exchange from the tiny pre-join signature rows and would
        # coalesce it blind to the quadratic fan-out (measured: a
        # 50k×64-cell sweep ran its 19.5M candidate pairs in 4
        # AQE-coalesced tasks). An explicit count is exempt from AQE
        # coalescing — the r2 MC-kernel precedent.
        nparts = assigned.sparkSession.sparkContext.defaultParallelism
        assigned = assigned.repartition(nparts, "cell")
        a = assigned.select("cell", F.col("_id").alias("id_a"),
                            F.col("_v").alias("_va"),
                            F.col("_nrm").alias("_na"))
        b = assigned.select("cell", F.col("_id").alias("id_b"),
                            F.col("_v").alias("_vb"),
                            F.col("_nrm").alias("_nb"))
        sim = F.when(
            (F.col("_na") > 0) & (F.col("_nb") > 0),
            dot(F.col("_va"), F.col("_vb"))
            / (F.col("_na") * F.col("_nb")))
        pairs = (
            a.join(b, "cell")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", sim.alias("cos_sim"))
            .where(F.col("cos_sim") >= threshold)
        )
    if n_assign > 1:
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return pairs


def _cell_pairs_kernel(assigned: DataFrame, id_col: str,
                       threshold: float, dim: int) -> DataFrame:
    """Within-cell pair cosines as a per-cell vectorized NumPy kernel
    (r15, guide §4.2): the join formulation hashes each cell's rows to
    ONE task anyway (the cell id is the join key), where every candidate
    pair paid an interpreted 64-element fold; the kernel does the same
    arithmetic on whole cells at NumPy speed.

    BIT-EXACT contract with the join path (what lets the DuckDB oracle
    and the pytest brute-force parity stay untouched): the dot runs as a
    dim-loop of vectorized multiply-adds — per pair, the same
    ``((0.0 + a0·b0) + a1·b1) + …`` left-fold order as ``dot()``, in
    IEEE float64 with no FMA, so every cos_sim bit matches. Spark's
    NaN-ordering semantics are reproduced explicitly: a NaN norm passes
    the ``> 0`` guard and a NaN cosine passes the ``>= threshold``
    filter (Spark orders NaN above every value), while NULL vectors and
    zero norms drop — the join path's exact behavior. Duplicate ids
    within a cell follow the join path too (r16): the pair predicate is
    ``id_a < id_b`` — two rows sharing an id emit no pair with each
    other (each still pairs with every other row), exactly like the
    join's strict-inequality filter; parity with a duplicated id is
    pinned in tests/test_semantic_dedup.py.
    """
    import pandas as pd

    id_dtype = dict(assigned.dtypes)["_id"]
    out_schema = f"id_a {id_dtype}, id_b {id_dtype}, cos_sim double"

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({
            "id_a": pd.Series([], dtype=pdf["_id"].dtype),
            "id_b": pd.Series([], dtype=pdf["_id"].dtype),
            "cos_sim": pd.Series([], dtype="float64")})
        pdf = pdf[pdf["_v"].notna()]
        nrm_all = pdf["_nrm"].to_numpy(dtype=np.float64)
        # Spark: NaN > 0 is TRUE (NaN sorts above everything)
        keep = (nrm_all > 0) | np.isnan(nrm_all)
        pdf = pdf[keep]
        n = len(pdf)
        if n < 2:
            return empty
        pdf = pdf.sort_values("_id", ignore_index=True)
        ids = pdf["_id"].to_numpy()
        nrm = pdf["_nrm"].to_numpy(dtype=np.float64)
        V = np.array([np.asarray(v, dtype=np.float64)
                      for v in pdf["_v"]])
        j_idx = np.arange(n)
        out_a, out_b, out_s = [], [], []
        chunk = max(1, min(512, (1 << 24) // max(n, 1)))
        for i0 in range(0, n - 1, chunk):
            i1 = min(i0 + chunk, n - 1)
            A = V[i0:i1]
            acc = np.zeros((i1 - i0, n))
            for d in range(dim):
                acc += A[:, d, None] * V[None, :, d]
            sims = acc / (nrm[i0:i1, None] * nrm[None, :])
            # Spark: NaN >= threshold is TRUE (NaN ordering)
            hit = (sims >= threshold) | np.isnan(sims)
            hit &= j_idx[None, :] > (i0 + np.arange(i1 - i0))[:, None]
            # the join path's predicate is id_a < id_b, not row index:
            # with DUPLICATE ids in one cell, index inequality alone
            # would emit an (x, x) self-pair the join path excludes —
            # ids are sorted, so index > plus id != is exactly id <
            # (r15 verdict item 6: pin the duplicate-id contract)
            hit &= ids[None, :] != ids[i0:i1, None]
            ii, jj = np.nonzero(hit)
            if len(ii):
                out_a.append(ids[ii + i0])
                out_b.append(ids[jj])
                out_s.append(sims[ii, jj])
        if not out_a:
            return empty
        return pd.DataFrame({
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "cos_sim": np.concatenate(out_s)})

    return assigned.groupBy("cell").applyInPandas(kern, out_schema)


def semantic_dedup_groups(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_clusters: int = 16,
    n_assign: int = 1,
    sample_rows: int = 4096,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    max_cell_rows: int | None = 100_000,
) -> DataFrame:
    """SemDeDup end-to-end: ``semantic_pairs`` resolved to connected
    components via ``dedup.duplicate_groups`` — (id, group_id,
    group_size) for multi-member groups, group_id = min member id
    (keep-first: drop rows where id != group_id). Same return contract
    as ``embedding_dedup_groups``; this one blocks by k-means cell
    instead of LSH bucket."""
    from .dedup import duplicate_groups

    pairs = semantic_pairs(
        df, id_col=id_col, vec_col=vec_col, threshold=threshold,
        n_clusters=n_clusters, n_assign=n_assign,
        sample_rows=sample_rows, seed=seed, centroids=centroids,
        max_cell_rows=max_cell_rows)
    groups = duplicate_groups(df.select(F.col(id_col)), pairs, id_col)
    return groups.where(F.col("group_size") > 1)


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    *,
    query_id_col: str = "query_id",
    neighbor_id_col: str = "neighbor_id",
    k: int | None = None,
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact baseline
    — the measurement that turns 'we have IVF/PQ/LSH' into 'we know what
    they trade away'. Both inputs are (query_id, neighbor_id[, rnk])
    frames as produced by the ``*_topk`` operators; ``k`` truncates both
    sides by their ``rnk`` column when given (pass None to compare
    as-is).

    Returns one row per query in the EXACT frame: (``query_id``,
    ``n_exact``, ``n_hit``, ``recall``) with recall rounded to 6 — a
    query the approximate index missed entirely still appears (n_hit 0),
    so macro-averaging ``recall`` never silently drops failures.

    Plan: one left-semi equi-join on (query, neighbor) + per-query
    counts — both sides are top-k frames (bounded by queries × k), so
    this is evaluation-scale, not corpus-scale.
    """
    qn = [query_id_col, neighbor_id_col]
    e = exact.select(*qn, *(["rnk"] if k is not None else []))
    a = approx.select(*qn, *(["rnk"] if k is not None else []))
    if k is not None:
        e = e.where(F.col("rnk") <= k).drop("rnk")
        a = a.where(F.col("rnk") <= k).drop("rnk")
    hits = e.join(a, qn, "left_semi").groupBy(query_id_col).agg(
        F.count(F.lit(1)).alias("n_hit"))
    base = e.groupBy(query_id_col).agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        base.join(hits, query_id_col, "left")
        .select(
            F.col(query_id_col),
            "n_exact",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.round(F.coalesce(F.col("n_hit"), F.lit(0))
                    / F.col("n_exact"), 6).alias("recall"),
        )
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    codes_col: str = "codes",
) -> DataFrame:
    """Symmetric per-vector int8 quantization for embedding STORAGE:
    ``code_j = round(x_j / scale)`` with ``scale = max|x| / 127`` — the
    standard absmax scheme. Returns (id, scale double, codes
    array<tinyint>): 1 byte per dimension instead of 8 (or 4), the 4-8x
    table-size cut that decides whether a 100 TB embedding corpus fits
    the warm tier. Map-only column expressions (one max fold + one
    transform per row); round-trips through parquet; the all-zero vector
    gets scale 0 and all-zero codes.

    Quantization error is bounded: |x_j - scale·code_j| <= scale/2, so
    cosine between dequantized vectors stays within ~1/127 of the exact
    value for unit-norm embeddings (pinned with measured bounds in
    tests/test_quantize.py). Exact-ranking consumers re-rank a candidate
    set with the full vectors (the ann `refine=` lever); bulk scoring
    uses the codes directly.
    """
    v = F.col(vec_col)
    # scale staged as a real column: the codes transform references it per
    # element, and an inlined copy would re-run the absmax fold per
    # dimension (the staged-projection rule)
    staged = df.select(
        F.col(id_col), v.alias("_v"), absmax_scale(v).alias("scale"))
    return staged.select(
        F.col(id_col),
        F.col("scale"),
        quantize_code_expr(F.col("_v"), F.col("scale")).alias(codes_col),
    )


def absmax_scale(vec: Column) -> Column:
    """absmax/127 quantization scale of an array column (the
    ``quantize_embeddings`` scheme, exposed for callers that stage their
    own projections — e.g. the quantized-refine ANN index build)."""
    return (F.array_max(F.transform(vec, lambda x: F.abs(x)))
            / F.lit(127.0)).cast("double")


def quantize_code_expr(vec: Column, scale: Column) -> Column:
    """int8 codes for ``vec`` given its ``absmax_scale``. ``scale`` MUST
    be a staged column attribute, not the scale expression inline — an
    inlined copy re-runs the absmax fold per element (the
    staged-projection rule; see ``quantize_embeddings``)."""
    return F.transform(
        vec,
        lambda x: F.when(scale != 0.0, F.round(x / scale))
        .otherwise(F.lit(0)).cast("tinyint"))


def dequantize_col(scale: Column, codes: Column) -> Column:
    """array<double> reconstruction of a quantized embedding — compose
    into any scoring expression (``cosine(dequantize_col(...), q)``)."""
    return F.transform(codes, lambda c: c.cast("double") * scale)
