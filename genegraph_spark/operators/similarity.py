"""Similarity search over embedding columns: brute-force cosine top-k
(baseline) and an IVF-style partitioned variant (scale path).

Engine capability beyond the reference (its nearest analog is the Lucene
suggester index, ``src/genegraph/suggest/``); required for training-data
pipelines. Dot products run JVM-side via ``zip_with``/``aggregate`` —
no Python in the scoring loop.

Scale notes: brute-force broadcasts the (small) query set against the
corpus — map-only, no shuffle, linear scan; right for reranking or small
query batches. The IVF variant shuffles the corpus once on a centroid
assignment and probes only the closest partitions per query — the
standard recall/throughput trade."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sinks.commit import CommitLog, tag


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, vec_id, cosine, rank).

    Self-matches (same id) are excluded. Deterministic tie-break on
    neighbor id. The query side is broadcast — corpus never shuffles."""
    # norms factored out of the per-pair expression: a corpus vector's
    # norm is otherwise re-evaluated once PER QUERY inside the join
    # (n_queries interpreted folds instead of one). dot/(nc*nq) flows
    # the same values through the same sqrt/multiply/divide, so rounded
    # cosines are bit-identical to the inline form.
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("qvec"),
        norm_expr(F.col(vec_col)).alias("_nq"),
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("cvec"),
        norm_expr(F.col(vec_col)).alias("_nc"),
    )
    scored = (
        c.join(F.broadcast(q), F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                dot_expr(F.col("qvec"), F.col("cvec"))
                / (F.col("_nq") * F.col("_nc")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def default_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed-K deterministic centroid selection: hash every id into one of
    ``n_centroids`` buckets (md5 — engine-reproducible) and take the
    min-id vector per bucket as the representative.

    K is a constant independent of corpus size, so the centroid broadcast
    in :func:`ivf_assign` stays O(K) at any scale (the round-1
    every-31st-row sample grew linearly with the corpus and would explode
    the broadcast at 10^9 rows). The bucket-min is a map-side partial
    aggregation — no sort, one tiny shuffle. In production the centroids
    come from a k-means fit; the interface is identical."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("bigint")
        % n_centroids
    )
    reps = (
        corpus.select(bucket.alias("_bkt"), F.col(id_col))
        .groupBy("_bkt")
        .agg(F.min(id_col).alias("centroid_id"))
    )
    return corpus.join(
        F.broadcast(reps), F.col(id_col) == F.col("centroid_id")
    ).select("centroid_id", F.col(vec_col))


def l2_expr(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _infer_dim(corpus: DataFrame, vec_col: str) -> int:
    row = corpus.select(F.size(vec_col).alias("d")).first()
    if row is None or row["d"] is None:
        raise ValueError("cannot infer embedding dimension from an empty corpus")
    return int(row["d"])


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd's k-means fit for the IVF coarse quantizer
    (the production replacement for :func:`default_centroids`' md5-bucket
    representatives — which seed it here).

    Each iteration is (1) a broadcast-join argmax assignment (rounded
    cosine, ties on centroid id — the same determinism contract as
    :func:`ivf_assign`) and (2) a per-dimension mean, computed as ``dim``
    independent ``avg`` aggregates over one shuffle keyed by centroid —
    map-side partial aggregation applies, so the shuffle carries
    O(partitions × K × dim) not O(corpus). Means are rounded to 6dp so
    the fitted centroids are bit-identical across engines and float
    summation orders. Clusters that receive no vectors drop out (inner
    join), mirroring standard empty-cluster elimination.

    Per-round cost at 100 TB: one broadcast (O(K·dim)) + one narrow
    scan + one tiny shuffle — rounds are a constant (``iters``), not
    data-dependent."""
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    cen = default_centroids(corpus, n_centroids, id_col=id_col, vec_col=vec_col).select(
        "centroid_id", F.col(vec_col).cast("array<double>").alias("v")
    )
    c = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    for _ in range(iters):
        asn = ivf_assign(c, cen, id_col=id_col, vec_col="v").select(id_col, "centroid_id")
        cen = (
            c.join(asn, id_col)
            .groupBy("centroid_id")
            .agg(
                F.array(
                    *[F.round(F.avg(F.col("v").getItem(i)), 6) for i in range(dim)]
                ).alias("v")
            )
        )
    return cen.select("centroid_id", F.col("v").alias(vec_col))


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Assign each vector to its max-cosine centroid (one broadcast join +
    window argmax; the 'coarse quantizer'). Returns corpus + centroid_id."""
    # norms factored out of the per-pair score: a corpus vector's norm
    # is otherwise re-evaluated once per CENTROID (K interpreted folds
    # instead of one); same values through the same ops — rounded
    # scores bit-identical (the discipline embedding-LSH established)
    cen = centroids.select(
        F.col(centroid_id_col),
        F.col(vec_col).alias("cenvec"),
        norm_expr(F.col(vec_col)).alias("_ncen"),
    )
    # 6dp-rounded score before the argmax so the assignment is
    # reproducible across engines/float-op orders (ties break on id)
    scored = corpus.withColumn("_nv", norm_expr(F.col(vec_col))).join(
        F.broadcast(cen)
    ).select(
        "*",
        F.round(
            dot_expr(F.col(vec_col), F.col("cenvec")) / (F.col("_nv") * F.col("_ncen")),
            6,
        ).alias("_cscore"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_cscore"), F.asc(centroid_id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_cscore", "cenvec", "_nv", "_ncen")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame | None = None,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style ANN: partition the corpus by nearest centroid; each query
    scans only its ``n_probe`` closest partitions. Approximate — recall
    depends on n_probe/centroid quality. Centroids default to
    :func:`default_centroids` (fixed K, deterministic, engine-
    reproducible); at scale, a k-means fit.
    """
    if centroids is None:
        centroids = default_centroids(corpus, id_col=id_col, vec_col=vec_col)
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    # queries pick their n_probe nearest centroids (rounded score —
    # same determinism contract as the assignment)
    cen = centroids.select(
        "centroid_id", F.col(vec_col).alias("cenvec"),
        norm_expr(F.col(vec_col)).alias("_ncen"),
    )
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("qvec"),
        norm_expr(F.col(vec_col)).alias("_nq"),
    )
    qc = q.join(F.broadcast(cen)).select(
        query_id_col, "qvec", "_nq", "centroid_id",
        F.round(
            dot_expr(F.col("qvec"), F.col("cenvec")) / (F.col("_nq") * F.col("_ncen")),
            6,
        ).alias("_s"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.desc("_s"), F.asc("centroid_id"))
    probes = qc.withColumn("_rn", F.row_number().over(wq)).where(F.col("_rn") <= n_probe).drop(
        "_rn", "_s"
    )
    scored = (
        assigned.withColumn("_nv", norm_expr(F.col(vec_col)))
        .join(F.broadcast(probes), "centroid_id")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                dot_expr(F.col("qvec"), F.col(vec_col)) / (F.col("_nq") * F.col("_nv")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# -- product quantization (ADC) ----------------------------------------------

def pq_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace codebooks for product quantization (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI'11):
    split the vector into ``n_subspaces`` contiguous slices and pick
    ``n_codes`` codewords per subspace.

    Codewords are md5-bucket representatives (hash ``id:subspace`` into a
    code bucket, take the min-id vector's slice) — the same
    engine-reproducible discipline as :func:`default_centroids`; a
    k-means fit per subspace is the production upgrade and slots into the
    same (subspace, code, codeword) schema. Returns
    (subspace, code, codeword: array<double>). O(m·K) rows — always
    broadcastable."""
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    assert dim % n_subspaces == 0, (
        f"dim={dim} must be divisible by n_subspaces={n_subspaces}"
    )
    width = dim // n_subspaces
    c = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    sub = c.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("subspace"),
                    F.slice("v", s * width + 1, width).alias("sv"),
                )
                for s in range(n_subspaces)
            ])
        ).alias("e"),
    ).select(id_col, "e.subspace", "e.sv")
    code = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.col("subspace").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint")
        % n_codes
    )
    reps = (
        sub.select("subspace", code.alias("code"), F.col(id_col))
        .groupBy("subspace", "code")
        .agg(F.min(id_col).alias("_rep"))
        # break self-join lineage ambiguity: reps derives from sub
        .select(F.col("subspace").alias("_rs"), "code", "_rep")
    )
    return (
        sub.join(
            F.broadcast(reps),
            (F.col("subspace") == F.col("_rs")) & (F.col(id_col) == F.col("_rep")),
        )
        .select("subspace", "code", F.col("sv").alias("codeword"))
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    n_subspaces: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``n_subspaces`` small-int codes: per
    subspace, the codeword minimizing L2 distance to the vector's slice
    (rounded to 6dp, ties on code id — deterministic across engines).

    Returns (id, subspace, code) — the compressed corpus a 100 TB ANN
    index actually stores: m bytes per vector instead of dim floats. The
    codebook is broadcast (O(m·K) rows); encoding is map-side except the
    final argmin window, keyed by (id, subspace) — no skew possible."""
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    width = dim // n_subspaces
    c = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    sub = c.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("subspace"),
                    F.slice("v", s * width + 1, width).alias("sv"),
                )
                for s in range(n_subspaces)
            ])
        ).alias("e"),
    ).select(id_col, "e.subspace", "e.sv")
    scored = sub.join(F.broadcast(codebooks), "subspace").select(
        id_col,
        "subspace",
        "code",
        F.round(l2_expr(F.col("sv"), F.col("codeword")), 6).alias("_d"),
    )
    # argmin as a struct-min aggregate (lexicographic on (_d, code) — same
    # tie-break as a window rank but partially aggregatable map-side, so
    # the K-way expansion never survives the shuffle)
    return (
        scored.groupBy(id_col, "subspace")
        .agg(F.min(F.struct("_d", "code")).alias("_m"))
        .select(id_col, "subspace", F.col("_m.code").alias("code"))
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    k: int = 5,
    refine: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ asymmetric-distance top-k with exact re-rank: score every
    encoded vector against a per-query lookup table (subspace, code) →
    partial dot product, take the top ``k·refine`` ADC candidates, then
    re-rank those (and only those) by exact cosine.

    The scale shape: the corpus is touched only through its (id,
    subspace, code) encoding — m small ints per vector; the per-query LUT
    (m·K rows) is broadcast; the exact re-rank reads full vectors for
    k·refine candidates per query, not the corpus. Partial dots are
    rounded to 6dp before the sum and the sum re-rounded, so ADC scores
    are order-independent and engine-reproducible."""
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    width = dim // n_subspaces
    books = pq_codebooks(corpus, n_subspaces, n_codes, dim, id_col, vec_col)
    encoded = pq_encode(corpus, books, n_subspaces, dim, id_col, vec_col)
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("qv")
    )
    lut = q.join(F.broadcast(books)).select(
        query_id_col,
        "subspace",
        "code",
        F.round(
            dot_expr(
                F.slice("qv", F.col("subspace") * width + 1, width), F.col("codeword")
            ),
            6,
        ).alias("_pd"),
    )
    adc = (
        encoded.join(F.broadcast(lut), ["subspace", "code"])
        .where(F.col(id_col) != F.col(query_id_col))
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("_pd"), 6).alias("adc"))
    )
    wc = Window.partitionBy(query_id_col).orderBy(F.desc("adc"), F.asc(id_col))
    cands = (
        adc.withColumn("_rn", F.row_number().over(wc))
        .where(F.col("_rn") <= k * refine)
        .select(query_id_col, id_col, "adc")
    )
    full = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("cv"),
        norm_expr(F.col(vec_col).cast("array<double>")).alias("_nc"),
    )
    exact = (
        cands.join(full, id_col)
        .join(F.broadcast(q.withColumn("_nq", norm_expr(F.col("qv")))), query_id_col)
        .select(
            query_id_col,
            id_col,
            "adc",
            F.round(
                dot_expr(F.col("qv"), F.col("cv")) / (F.col("_nq") * F.col("_nc")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return exact.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# -- persisted IVF index (build once, query many) -----------------------------

def _ivf_log(path: str) -> CommitLog:
    roots = ("corpus", "centroids")
    return CommitLog(path, roots, lambda meta: [f"{r}/{tag(meta['commit'])}" for r in roots])


class IvfIndex:
    """IVF index persisted to the lake: the centroid-assigned corpus is
    written as parquet PARTITIONED BY centroid_id, so probing a query's
    ``n_probe`` closest centroids becomes a partition-pruned scan — the
    build-once / query-many shape a 100 TB corpus requires (re-assigning
    every vector per query batch, as the inline :func:`ivf_topk` does, is
    only right for one-shot jobs).

    Layout: build ``c`` writes ``{path}/corpus/c<c>/centroid_id=N/`` and
    ``{path}/centroids/c<c>`` (small, broadcast on load), then publishes
    its id and vector columns through :class:`sinks.commit.CommitLog`.
    A rebuild never touches the files of the build readers hold: a fresh
    index opens the newest published build, and a rebuild reclaims builds
    superseded ``commit.RETAIN_S`` ago.

    The probe set is collected to the driver by design — it is bounded by
    n_queries × n_probe centroid ids (NOT corpus-scale), and inlining the
    ids into the scan filter is what lets the reader prune partitions.
    """

    def __init__(self, spark, path: str):
        import os

        self.spark = spark
        self.path = path
        self.meta = _ivf_log(path).latest()
        if self.meta is None:
            raise ValueError(f"no IVF index built at {path}")
        self._build = tag(self.meta["commit"])
        self.centroids = spark.read.parquet(os.path.join(path, "centroids", self._build))

    @staticmethod
    def build(
        corpus: DataFrame,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IvfIndex":
        import os

        spark = corpus.sparkSession
        log = _ivf_log(path)
        with log.commit(log.head()) as commit:
            centroids = default_centroids(corpus, id_col=id_col, vec_col=vec_col)
            assigned = ivf_assign(corpus, centroids, id_col, vec_col)
            assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
                os.path.join(path, "corpus", tag(commit))
            )
            centroids.write.mode("overwrite").parquet(os.path.join(path, "centroids", tag(commit)))
            log.publish(commit, {"id_col": id_col, "vec_col": vec_col})
            log.expire(keep_last=1)
        return IvfIndex(spark, path)

    def topk(
        self,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 2,
        query_id_col: str = "query_id",
    ) -> DataFrame:
        import os

        id_col = self.meta["id_col"]
        vec_col = self.meta["vec_col"]
        # norms factored out of probe and scan scoring (same
        # bit-identity argument as ivf_topk)
        cen = self.centroids.select(
            "centroid_id", F.col(vec_col).alias("cenvec"),
            norm_expr(F.col(vec_col)).alias("_ncen"),
        )
        q = queries.select(
            F.col(query_id_col), F.col(vec_col).alias("qvec"),
            norm_expr(F.col(vec_col)).alias("_nq"),
        )
        qc = q.join(F.broadcast(cen)).select(
            query_id_col, "qvec", "_nq", "centroid_id",
            F.round(
                dot_expr(F.col("qvec"), F.col("cenvec")) / (F.col("_nq") * F.col("_ncen")),
                6,
            ).alias("_s"),
        )
        wq = Window.partitionBy(query_id_col).orderBy(F.desc("_s"), F.asc("centroid_id"))
        probes = (
            qc.withColumn("_rn", F.row_number().over(wq))
            .where(F.col("_rn") <= n_probe)
            .drop("_rn", "_s")
        )
        probe_ids = sorted({r["centroid_id"] for r in probes.select("centroid_id").distinct().collect()})
        # partition-pruned scan: only the probed centroid dirs are read
        part = self.spark.read.parquet(os.path.join(self.path, "corpus", self._build)).where(
            F.col("centroid_id").isin(probe_ids)
        )
        scored = (
            part.withColumn("_nv", norm_expr(F.col(vec_col)))
            .join(F.broadcast(probes), "centroid_id")
            .where(F.col(id_col) != F.col(query_id_col))
            .select(
                query_id_col,
                id_col,
                F.round(
                    dot_expr(F.col("qvec"), F.col(vec_col))
                    / (F.col("_nq") * F.col("_nv")),
                    6,
                ).alias("cosine"),
            )
        )
        w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
        return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)

