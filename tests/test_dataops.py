"""Training-data operator tests: dedup family, similarity search, text
stats, multimodal plumbing — crafted micro-corpora with hand-computed
expectations."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from genegraph_spark.functions import multimodal, textstats
from genegraph_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different words entirely here now"),
        (5, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.cache().count()
    return df


def test_exact_dedup(docs):
    groups = {r["keep_id"]: r["n_dups"] for r in dedup.exact_duplicates(docs).collect()}
    assert groups == {1: 3, 3: 1, 4: 1}


def test_shingles_and_jaccard(docs):
    sh = dedup.shingles(docs, k=3)
    d1 = {r["shingle"] for r in sh.where("doc_id = 1").collect()}
    assert "the quick brown" in d1 and len(d1) == 7
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.0)
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert j[(1, 2)] == 1.0 and j[(1, 5)] == 1.0
    # docs 1 and 3 differ only in the final shingle: 6 shared of 8 distinct
    assert math.isclose(j[(1, 3)], 6 / 8)
    assert (1, 4) not in j


def test_minhash_lsh_finds_near_dups(docs):
    out = dedup.minhash_near_duplicates(docs, threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert {(1, 2), (1, 5), (2, 5)} <= pairs  # exact dups always collide
    assert (1, 4) not in pairs and (3, 4) not in pairs


@pytest.mark.parametrize("threshold", [0.0, -0.5])
def test_minhash_rejects_non_positive_threshold(docs, threshold):
    """threshold <= 0 would pass band collisions sharing no shingle."""
    with pytest.raises(ValueError, match="threshold"):
        dedup.minhash_near_duplicates(docs, threshold=threshold)


def test_simhash(docs):
    s = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert s[1] == s[2] == s[5]  # identical text ⇒ identical simhash
    assert s[1] != s[4]


def test_embedding_near_dups_and_topk(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0], 0),  # near dup of 1
        (3, [0.0, 1.0, 0.0], 0),
        (4, [0.0, 0.0, 1.0], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    nd = dedup.embedding_near_duplicates(emb, threshold=0.99)
    assert {(r["id_a"], r["id_b"]) for r in nd.collect()} == {(1, 2)}

    q = emb.where("vec_id = 1").select(F.col("vec_id").alias("query_id"), "embedding")
    topk = similarity.cosine_topk(emb, q, k=2)
    got = [(r["vec_id"], r["rank"]) for r in topk.orderBy("rank").collect()]
    assert got == [(2, 1), (3, 2)]


def test_ivf_topk_recall(spark):
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.gauss(0, 1) for _ in range(8)], 0) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.cosine_topk(emb, q, k=5)
    approx = similarity.ivf_topk(emb, q, k=5, n_probe=3)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert len(a & e) / len(e) >= 0.5  # probing 3/7 partitions: recall well above chance


@pytest.mark.parametrize("kind", ["float", "sign"])
def test_every_search_path_scores_the_reference_cosine(spark, tmp_path, kind):
    """Every cosine a vector-search operator returns is exactly
    ``round(cosine_expr(a, b), 6)`` of its id pair, on seeded random
    float vectors and on ±1/8 sign vectors (whose cosines tie often)."""
    import random

    rnd = random.Random(11)
    draw = {"float": lambda: rnd.gauss(0, 1), "sign": lambda: rnd.choice([0.125, -0.125])}[kind]
    rows = [(i, [draw() for _ in range(8)], i % 3) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = emb.where("vec_id < 4").select(F.col("vec_id").alias("query_id"), "embedding")
    a = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("a"))
    b = emb.select("vec_id", F.col("embedding").alias("b"))
    similarity.IvfIndex.build(emb, str(tmp_path / "ivf"))
    paths = {
        "cosine_topk": similarity.cosine_topk(emb, q, k=5),
        "ivf_topk": similarity.ivf_topk(emb, q, k=5, n_probe=2),
        "IvfIndex.topk": similarity.IvfIndex(spark, str(tmp_path / "ivf")).topk(q, k=5, n_probe=2),
        "pq_topk": similarity.pq_topk(emb, q, n_subspaces=4, n_codes=4, k=5, refine=2, dim=8),
        "embedding_near_duplicates": dedup.embedding_near_duplicates(emb, threshold=-1.0),
        "embedding_lsh_near_duplicates": dedup.embedding_lsh_near_duplicates(
            emb, dim=8, n_planes=4, n_bands=2, threshold=-1.0
        ),
    }
    for name, out in paths.items():
        if "id_a" in out.columns:
            out = out.withColumnRenamed("id_a", "query_id").withColumnRenamed("id_b", "vec_id")
        got = (
            out.join(a, "query_id")
            .join(b, "vec_id")
            .select("cosine", F.round(similarity.cosine_expr(F.col("a"), F.col("b")), 6).alias("ref"))
            .collect()
        )
        assert got, name
        assert [r.cosine for r in got] == [r.ref for r in got], name


def test_vector_split_checks_raise_value_errors(spark):
    """A PQ dim that ``n_subspaces`` does not divide, and LSH planes that
    ``n_bands`` does not divide, raise ``ValueError``, also under
    ``python -O``."""
    emb = spark.createDataFrame([(1, [1.0] * 8)], "vec_id long, embedding array<double>")
    for build in (
        lambda: similarity.pq_codebooks(emb, n_subspaces=3, dim=8),
        lambda: similarity.pq_encode(emb, emb, n_subspaces=3, dim=8),
        lambda: similarity.pq_topk(emb, emb.withColumnRenamed("vec_id", "query_id"), n_subspaces=3, dim=8),
        lambda: dedup.hyperplane_lsh_buckets(emb, dim=8, n_planes=12, n_bands=5),
    ):
        with pytest.raises(ValueError, match="divi"):
            build()


def test_textstats(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat. it was the best mat!")], "id long, text string"
    )
    row = df.select(
        textstats.whitespace_token_count(F.col("text")).alias("n"),
        textstats.bpe_token_count(F.col("text")).alias("bpe"),
        textstats.stopword_ratio(F.col("text")).alias("sw"),
        textstats.lang_id_en(F.col("text")).alias("lang"),
        textstats.quality_score(F.col("text")).alias("q"),
        textstats.content_fingerprint(F.col("text")).alias("fp"),
        textstats.rolling_fingerprint(F.col("text")).alias("rfp"),
    ).collect()[0]
    assert row["n"] == 11
    # tokens: 11 words + '.' + '!' = 13 ('mat.' splits word+punct)
    assert row["bpe"] == 13
    assert row["lang"] == "en" and row["sw"] > 0.3
    assert 0.0 <= row["q"] <= 1.0
    assert len(row["fp"]) == 32 and len(row["rfp"]) == 32


def test_multimodal_plumbing(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = multimodal.make_media_df(spark, docs)
    decoded = multimodal.decode_media(media, fake=True)
    assert decoded.schema.simpleString().startswith(
        "struct<media_id:bigint,kind:string,n_bytes:int,feature:array<float>"
    )
    sample = decoded.limit(3).collect()
    assert all(len(r["feature"]) == multimodal.FEATURE_DIM for r in sample)
    # deterministic: same payload ⇒ same feature
    again = decoded.limit(3).collect()
    assert [r["feature"] for r in sample] == [r["feature"] for r in again]
    # real decode is stubbed
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        multimodal.decode_media(media, fake=False).limit(1).collect()


def test_repetition_stats(spark):
    from genegraph_spark.functions import textstats as TS

    docs = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham"),       # "spam ham" bigram x3
            (2, "all words here are unique tokens"),  # no repetition
            (3, "x y z x y z x y z"),                 # trigram "x y z" repeats
            (4, "one"),                               # too short for any gram
            (5, ""),                                  # empty
        ],
        "doc_id int, text string",
    )
    got = {r.doc_id: r for r in TS.repetition_stats(docs).collect()}
    # doc1: 6 tokens, bigram "spam ham" occurs 3× → 3*2/6 = 1.0
    assert got[1].top_bigram_frac == 1.0
    # doc2: every bigram unique → 1*2/6; no duplicated trigram
    assert abs(got[2].top_bigram_frac - 2 / 6) < 1e-6  # rounded to 6 decimals
    assert got[2].dup_trigram_frac == 0.0
    # doc3: 9 tokens, trigram "x y z" occurs 3× (positions 0,3,6) →
    # duplicated-trigram coverage 3*3/9 = 1.0
    assert got[3].dup_trigram_frac == 1.0
    # short/empty docs: zero fractions, kept in output
    assert got[4].top_bigram_frac == 0.0 and got[4].dup_trigram_frac == 0.0
    assert got[5].n_tokens == 0 and got[5].top_bigram_frac == 0.0


def test_corpus_filter_reasons(spark):
    from genegraph_spark.functions import textstats as TS

    good = "the cat sat on a mat and then the dog ran to it for fun in that park of joy is it"
    docs = spark.createDataFrame(
        [
            (1, good),                         # keeps: long, english, diverse
            (2, "tiny doc"),                   # too_short (+ non_english)
            (3, good),                         # exact_dup of 1 (larger id loses)
            (4, "spam ham " * 15),             # repetitive + non_english
        ],
        "doc_id int, text string",
    )
    got = {r.doc_id: r for r in TS.corpus_filter(docs).collect()}
    assert got[1].keep and got[1].drop_reasons == ""
    assert "too_short" in got[2].drop_reasons and not got[2].keep
    assert got[3].drop_reasons == "exact_dup"  # same text, higher id
    assert "repetitive_bigram" in got[4].drop_reasons
    # reasons are sorted + comma-joined → deterministic string
    assert got[4].drop_reasons == ",".join(sorted(got[4].drop_reasons.split(",")))


def test_pii_scrub(spark):
    from genegraph_spark.functions import textstats as TS

    df = spark.createDataFrame(
        [(1, "mail alice.smith+x@corp.example.org or call (555) 123-4567, "
             "server 192.168.0.1; plain text stays")],
        "id long, text string",
    )
    row = df.select(
        TS.scrub_pii(F.col("text")).alias("s"),
        TS.pii_counts(F.col("text")).alias("c"),
    ).collect()[0]
    assert "<EMAIL>" in row.s and "<PHONE>" in row.s and "<IPV4>" in row.s
    assert "alice" not in row.s and "4567" not in row.s and "192.168" not in row.s
    assert "plain text stays" in row.s
    assert (row.c.email, row.c.phone, row.c.ipv4) == (1, 1, 1)


class TestMinhashIndex:
    """Persisted incremental near-dup index (dedup.MinhashIndex):
    new-batch-vs-indexed-corpus without re-shingling old data."""

    def test_build_query_append(self, spark, docs, tmp_path):
        ix = dedup.MinhashIndex(spark, str(tmp_path / "mh"))
        # index snapshot 1 = docs 1..3; new batch = 4 (unique), 5 (dup of 1)
        ix.build(docs.where("doc_id <= 3"))
        batch = docs.where("doc_id >= 4")
        out = ix.query(batch, threshold=0.5).collect()
        got = {(r.id_a, r.id_b, r.source): r.est_jaccard for r in out}
        # doc 5 is byte-identical to 1 and 2 → estimator 1.0 vs both
        assert got[(5, 1, "index")] == 1.0
        assert got[(5, 2, "index")] == 1.0
        # near-dup 3 also collides (identical minus one shingle)
        assert got[(5, 3, "index")] > 0.5
        # doc 4 shares nothing
        assert not any(a == 4 for a, _, _ in got)
        # no within-batch pairs here (4 vs 5 are unrelated)
        assert not any(s == "batch" for _, _, s in got)
        # append the batch, then a later snapshot matches against it too
        ix.append(batch)
        later = spark.createDataFrame(
            [(6, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        out2 = {
            (r.id_a, r.id_b) for r in ix.query(later, threshold=0.9).collect()
        }
        assert (6, 5) in out2 and (6, 1) in out2

    def test_within_batch_pairs_and_threshold(self, spark, docs, tmp_path):
        ix = dedup.MinhashIndex(spark, str(tmp_path / "mh2"))
        ix.build(docs.where("doc_id = 4"))
        out = ix.query(docs.where("doc_id in (1, 2)"), threshold=0.5).collect()
        got = {(r.id_a, r.id_b, r.source) for r in out}
        assert got == {(1, 2, "batch")}

    def test_param_mismatch_rejected(self, spark, docs, tmp_path):
        dedup.MinhashIndex(spark, str(tmp_path / "mh3")).build(docs)
        with pytest.raises(ValueError, match="built with"):
            dedup.MinhashIndex(spark, str(tmp_path / "mh3"), n_bands=8)

    def test_id_col_mismatch_rejected(self, spark, docs, tmp_path):
        ix = dedup.MinhashIndex(spark, str(tmp_path / "mh4")).build(docs)
        with pytest.raises(ValueError, match="keys on"):
            ix.query(docs.withColumnRenamed("doc_id", "url"), id_col="url")

    def test_uncommitted_batch_is_invisible(self, spark, docs, tmp_path):
        """Commit protocol: a batch whose parquet landed but whose
        meta.json commit never happened (kill between the writes) must
        not eat candidates — readers only see committed batches, and the
        replayed append clobbers the orphan."""
        ix = dedup.MinhashIndex(spark, str(tmp_path / "mh5"))
        ix.build(docs.where("doc_id = 4"))
        batch = docs.where("doc_id = 1")
        # simulate the kill: batch dirs written, commit skipped
        ix._store_batch(ix._sig_frame(batch, "doc_id", "text"), "doc_id", 1)
        assert ix.query(docs.where("doc_id = 2")).count() == 0  # invisible
        # replayed append commits and clobbers the orphan
        ix.append(batch)
        got = {
            (r.id_a, r.id_b)
            for r in ix.query(docs.where("doc_id = 2"), threshold=0.9).collect()
        }
        assert got == {(2, 1)}


class TestGlobalRowNumber:
    """operators/ranking.py — the reusable two-stage global rank plus
    the closed-form ntile/percent_rank family derived from it (the
    vocabulary r6 fix, extracted so win_ntile and future global-rank
    consumers share one scale-safe implementation)."""

    def test_rank_matches_single_partition_reference(self, spark):
        from pyspark.sql import Window

        from genegraph_spark.operators import ranking as RK

        # ties in the sort key + unique tiebreak, spread over many
        # input partitions so the rank crosses range boundaries
        rows = [(i, float(i % 37)) for i in range(500)]
        df = spark.createDataFrame(rows, "id long, val double").repartition(16)
        order = [F.desc("val"), F.asc("id")]
        got, total = RK.global_row_number(df, order, rank_col="rk")
        assert total == 500
        ref = df.withColumn("rk", F.row_number().over(Window.orderBy(*order)))
        assert sorted((r.id, r.rk) for r in got.collect()) == sorted(
            (r.id, r.rk) for r in ref.collect()
        )

    def test_empty_input(self, spark):
        from genegraph_spark.operators import ranking as RK

        df = spark.createDataFrame([], "id long, val double")
        got, total = RK.global_row_number(df, [F.asc("id")])
        assert total == 0 and got.count() == 0
        assert "rank" in got.columns

    def test_no_single_partition_exchange(self, spark):
        from genegraph_spark.operators import ranking as RK

        df = spark.createDataFrame([(i,) for i in range(20)], "id long")
        got, _ = RK.global_row_number(df, [F.asc("id")])
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan

    @pytest.mark.parametrize(
        "n,k", [(23, 10), (100, 10), (7, 10), (10, 10), (1, 4), (9, 4)]
    )
    def test_ntile_and_percent_rank_closed_forms(self, spark, n, k):
        # the closed forms must equal SQL's window functions exactly —
        # including n < k (every bucket size 1) and n % k != 0 (mixed
        # big/small buckets)
        from pyspark.sql import Window

        from genegraph_spark.operators import ranking as RK

        df = spark.createDataFrame([(i,) for i in range(n)], "id long")
        w = Window.orderBy("id")
        ref = df.select(
            "id",
            F.ntile(k).over(w).alias("nt"),
            F.percent_rank().over(w).alias("pr"),
        )
        got = df.withColumn(
            "rk", F.row_number().over(w)
        ).select(
            "id",
            RK.ntile_from_rank(F.col("rk"), n, k).alias("nt"),
            RK.percent_rank_from_rank(F.col("rk"), n).alias("pr"),
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, ref.collect())
        )

    def test_ntile_bad_buckets_rejected(self, spark):
        from genegraph_spark.operators import ranking as RK

        with pytest.raises(ValueError):
            RK.ntile_from_rank(F.lit(1), 10, 0)

    def test_working_column_collision_rejected(self, spark):
        from genegraph_spark.operators import ranking as RK

        df = spark.createDataFrame([(1, 2)], "id long, _gr_mid long")
        with pytest.raises(ValueError, match="_gr_mid"):
            RK.global_row_number(df, [F.asc("id")])

    def test_rank_property_vs_python_reference(self, spark):
        """Property: for an adversarial value multiset (heavy ties,
        negatives, ±0.0, NULLs), the distributed rank under
        (val DESC, id ASC) equals a plain Python sort with Spark's
        DESC-NULLS-LAST semantics. Batch style: hypothesis assembles
        the multiset, ONE Spark round checks it (running Spark inside
        @given would re-plan per example)."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from genegraph_spark.operators import ranking as RK

        vals = []
        value = st.one_of(
            st.none(),
            st.sampled_from([0.0, -0.0, 1.0, -1.0, 5.0]),  # force ties
            st.floats(allow_nan=False, allow_infinity=False, width=32),
        )

        @settings(max_examples=80, deadline=None)
        @given(v=value)
        def collect(v):
            vals.append(v)

        collect()

        rows = [(i, v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "id long, val double").repartition(8)
        got, total = RK.global_row_number(
            df, [F.desc("val"), F.asc("id")], rank_col="rk"
        )
        assert total == len(rows)
        expect = sorted(
            rows, key=lambda r: (r[1] is None, -r[1] if r[1] is not None else 0.0, r[0])
        )
        want = {rid: rk for rk, (rid, _) in enumerate(expect, start=1)}
        assert {r.id: r.rk for r in got.collect()} == want


class TestPlanLintGlobalWindows:
    """Scale lint: no corpus-scale operator may plan an UNPARTITIONED
    window (VERDICT r5 found exactly one — ``vocabulary``'s global
    row_number rank — and the fix must never regress silently). Walks
    the physical plan tree for Window nodes whose partitionSpec is
    empty, over every LLM-pipeline board entry (dedup_*, text_*, sim_*,
    graph_*, join_salted_topk). Bounded single-partition windows over
    TakeOrdered survivors (slice offset, ranked-search rank tails) are
    a different, documented pattern and live outside this tier."""

    @staticmethod
    def _unpartitioned_windows(df):
        out = []

        def walk(node):
            cls = node.getClass().getSimpleName()
            if "Window" in cls:
                if node.partitionSpec().isEmpty():
                    out.append(cls)
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

        walk(df._jdf.queryExecution().sparkPlan())
        return out

    def test_walker_detects_a_global_window(self, spark):
        # self-check: a deliberately-global rank MUST be caught, else a
        # py4j API drift would make the sweep below pass vacuously
        from pyspark.sql import Window

        df = spark.range(10).withColumn(
            "rn", F.row_number().over(Window.orderBy("id"))
        )
        assert self._unpartitioned_windows(df) == ["WindowExec"]
        ok = spark.range(10).withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(F.col("id") % 2).orderBy("id")
            ),
        )
        assert self._unpartitioned_windows(ok) == []

    @pytest.mark.slow
    def test_llm_tier_plans_have_no_global_window(self, spark, sf_dir):
        import __spark_entry__ as E

        qs = E.queries()
        tier = sorted(
            n
            for n in qs
            if n.split("_")[0] in ("dedup", "text", "sim", "graph")
            or n in ("join_salted_topk", "win_ntile")
        )
        assert len(tier) >= 37  # board can grow, never shrink
        offenders = {}
        for name in tier:
            w = self._unpartitioned_windows(qs[name](spark, sf_dir))
            if w:
                offenders[name] = w
        assert offenders == {}
