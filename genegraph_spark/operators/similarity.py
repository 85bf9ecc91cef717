"""Similarity search over embedding columns: brute-force cosine top-k
(baseline), an IVF-style partitioned variant (scale path), inline or
persisted, and product quantization.

Engine capability beyond the reference (its nearest analog is the Lucene
suggester index, ``src/genegraph/suggest/``); required for training-data
pipelines. Dot products run JVM-side via ``zip_with``/``aggregate`` —
no Python in the scoring loop.

One kernel serves every operator here and the embedding near-dup pair
scorers in :mod:`.dedup`: :func:`_norm` selects a vector's norm once per
side (not once per scored pair), :func:`_cosine` scores a pair as
``round(dot/(na·nb), 6)`` — 6dp so rankings are engine-reproducible —
and :func:`_top_k` keeps the first k per key by score descending, then
id ascending. An IVF query is :func:`_ivf_probes` (each query's
``n_probe`` nearest centroids) then :func:`_ivf_scan` (score the probed
partitions, rank): :func:`ivf_topk` scans the freshly assigned corpus,
:meth:`IvfIndex.topk` a partition-pruned read of the persisted one.

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


def _norm(vec_col: str, norm_col: str) -> Column:
    """The norm of ``vec_col`` as ``norm_col``, selected once per side:
    folded once per row, where a pair score would fold it again for
    every pair the row is in. ``dot/(na·nb)`` over it flows the same
    values through the same sqrt, multiply and divide as
    :func:`cosine_expr`, so rounded cosines are bit-identical to the
    inline form."""
    return norm_expr(F.col(vec_col)).alias(norm_col)


def _cosine(a: str, b: str, norm_a: str, norm_b: str) -> Column:
    """The cosine of vector columns ``a`` and ``b`` from their
    :func:`_norm` norms, rounded to 6dp so scores, and the rankings
    and thresholds over them, reproduce across engines."""
    return F.round(dot_expr(F.col(a), F.col(b)) / (F.col(norm_a) * F.col(norm_b)), 6)


def _top_k(scored: DataFrame, key: str, score: str, id_col: str, k: int, rank: str) -> DataFrame:
    """The first ``k`` rows of ``scored`` per ``key`` by ``score``
    descending, ties broken on ``id_col`` ascending, numbered 1..k in
    ``rank``."""
    w = Window.partitionBy(key).orderBy(F.desc(score), F.asc(id_col))
    return scored.withColumn(rank, F.row_number().over(w)).where(F.col(rank) <= k)


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
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("qvec"), _norm(vec_col, "_nq"))
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("cvec"), _norm(vec_col, "_nc"))
    scored = c.join(F.broadcast(q), F.col(id_col) != F.col(query_id_col)).select(
        query_id_col, id_col, _cosine("qvec", "cvec", "_nq", "_nc").alias("cosine")
    )
    return _top_k(scored, query_id_col, "cosine", id_col, k, "rank")


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
    normed = corpus.select("*", _norm(vec_col, "_nv"))
    return _nearest(normed, id_col, vec_col, "_nv", centroids, vec_col, centroid_id_col, 1).drop("_nv")


def _nearest(
    rows: DataFrame, key: str, vec: str, norm: str, centroids: DataFrame,
    cen_vec_col: str, centroid_id_col: str, n: int,
) -> DataFrame:
    """``rows`` (carrying vector ``vec`` and its :func:`_norm` norm)
    joined to their ``n`` max-cosine centroids per ``key``, ties on the
    centroid id: the coarse quantizer's argmax (n = 1) and a query's
    probe set. The centroids are broadcast; the 6dp score makes the pick
    reproducible across engines and float-op orders."""
    cen = centroids.select(
        F.col(centroid_id_col), F.col(cen_vec_col).alias("_cvec"), _norm(cen_vec_col, "_ncen")
    )
    scored = rows.join(F.broadcast(cen)).withColumn("_s", _cosine(vec, "_cvec", norm, "_ncen"))
    return _top_k(scored, key, "_s", centroid_id_col, n, "_rn").drop("_rn", "_s", "_cvec", "_ncen")


def _ivf_probes(
    queries: DataFrame, centroids: DataFrame, n_probe: int, vec_col: str, query_id_col: str
) -> DataFrame:
    """(query_id, qvec, _nq, centroid_id): each query, with its vector
    and norm, once per centroid among its ``n_probe`` nearest."""
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("qvec"), _norm(vec_col, "_nq"))
    return _nearest(q, query_id_col, "qvec", "_nq", centroids, vec_col, "centroid_id", n_probe)


def _ivf_scan(
    assigned: DataFrame, probes: DataFrame, k: int, id_col: str, vec_col: str, query_id_col: str
) -> DataFrame:
    """(query_id, id, cosine, rank): the top ``k`` of the ``assigned``
    vectors in each query's probed partitions, self-matches excluded.
    The probe set is broadcast and joined on ``centroid_id``."""
    scored = (
        assigned.select("*", _norm(vec_col, "_nv"))
        .join(F.broadcast(probes), "centroid_id")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, _cosine("qvec", vec_col, "_nq", "_nv").alias("cosine"))
    )
    return _top_k(scored, query_id_col, "cosine", id_col, k, "rank")


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
    probes = _ivf_probes(queries, centroids, n_probe, vec_col, query_id_col)
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    return _ivf_scan(assigned, probes, k, id_col, vec_col, query_id_col)


# -- product quantization (ADC) ----------------------------------------------

def _subspaces(
    corpus: DataFrame, n_subspaces: int, dim: int | None, id_col: str, vec_col: str
) -> DataFrame:
    """(id, subspace, sv): every vector cut into ``n_subspaces``
    contiguous slices ``sv`` of ``dim // n_subspaces`` doubles. ``dim``
    is inferred from the corpus when None; a ``dim`` that
    ``n_subspaces`` does not divide raises, since its trailing dims
    would fall in no subspace."""
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    if dim % n_subspaces:
        raise ValueError(f"dim={dim} must be divisible by n_subspaces={n_subspaces}")
    width = dim // n_subspaces
    c = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    return c.select(
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
    sub = _subspaces(corpus, n_subspaces, dim, id_col, vec_col)
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
    sub = _subspaces(corpus, n_subspaces, dim, id_col, vec_col)
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
    books = pq_codebooks(corpus, n_subspaces, n_codes, dim, id_col, vec_col)
    encoded = pq_encode(corpus, books, n_subspaces, dim, id_col, vec_col)
    width = dim // n_subspaces
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
    cands = _top_k(adc, query_id_col, "adc", id_col, k * refine, "_rn").drop("_rn")
    full = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("cv"), _norm(vec_col, "_nc")
    )
    exact = (
        cands.join(full, id_col)
        .join(F.broadcast(q.select("*", _norm("qv", "_nq"))), query_id_col)
        .select(query_id_col, id_col, "adc", _cosine("qv", "cv", "_nq", "_nc").alias("cosine"))
    )
    return _top_k(exact, query_id_col, "cosine", id_col, k, "rank")


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
        probes = _ivf_probes(queries, self.centroids, n_probe, vec_col, query_id_col)
        probe_ids = sorted({r["centroid_id"] for r in probes.select("centroid_id").distinct().collect()})
        # partition-pruned scan: only the probed centroid dirs are read
        part = self.spark.read.parquet(os.path.join(self.path, "corpus", self._build)).where(
            F.col("centroid_id").isin(probe_ids)
        )
        return _ivf_scan(part, probes, k, id_col, vec_col, query_id_col)
