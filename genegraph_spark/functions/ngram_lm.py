"""Count-based n-gram language model: train, score, filter.

The CCNet-style corpus-curation step this repo's text tier lacked:
train a language model on a reference corpus, score every document,
and keep/drop/bucket by model fit (CCNet buckets Common Crawl by
Wikipedia-LM perplexity; public recipe: Wenzek et al. 2020, "CCNet:
Extracting High Quality Monolingual Datasets from Web Crawl Data").
A neural LM is not available in this environment, so the scorer is the
count-based **stupid backoff** bigram model (Brants et al. 2007, "Large
Language Models in Machine Translation" — designed exactly for
distributed count-only training at web scale).

Spark-first shape:
- TRAIN: unigram + bigram counts are two map-side-combined groupBys
  over one tokenized pass — the classic MapReduce LM build.
- SCORE: explode each document's bigrams once and JOIN against the
  count tables on the n-gram key. The bigram table is corpus-scale, so
  this is a plain co-keyed shuffle join (broadcast only the unigram
  side when small); per-document aggregation closes the pass. No
  per-row Python anywhere.
- FILTER: thresholds compare INTEGER diagnostics via cross-
  multiplication (``known*D >= N*total``), so the keep/drop verdict is
  exact and engine-portable; the float log-score is provided for
  ranking but deliberately kept OUT of the oracle-compared surface
  (cross-engine float arithmetic is not bit-stable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BOS = "<s>"  # sentence/document start token
BACKOFF = 0.4  # Brants et al.'s fixed backoff weight


def _tokens(text_col: str) -> Column:
    # the literal BOS marker is RESERVED: a corpus token spelled '<s>'
    # would otherwise collide with the synthetic context row and
    # double-join every document's first bigram
    t = F.split(F.col(text_col), r"\s+")
    t = F.filter(t, lambda x: (x != "") & (x != BOS))
    return F.transform(t, F.lower)


def train_bigram_lm(df: DataFrame, text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """(unigrams, bigrams) count tables from one tokenized pass.
    Unigrams: (w, c). Bigrams: (a, b, c) with a BOS predecessor for
    each document's first token."""
    toks = df.select(_tokens(text_col).alias("t")).where(
        F.size("t") > 0
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    with_bos = toks.select(
        F.concat(F.array(F.lit(BOS)), F.col("t")).alias("t")
    )
    n = F.size("t")
    pairs = F.arrays_zip(
        F.slice("t", 1, n - 1).alias("a"), F.slice("t", 2, n - 1).alias("b")
    )
    bi = (
        with_bos.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    return uni, bi


def score_documents(
    df: DataFrame, uni: DataFrame, bi: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Per document: integer LM-fit diagnostics + the stupid-backoff
    average log-score.

    Columns: ``n_tokens``; ``known_bigrams`` (context+continuation seen
    together); ``backoff_hits`` (bigram unseen, word known — scored
    ``0.4 * c(w)/N``); ``oov`` (word unseen); ``avg_logprob`` (float,
    ranking only — see module docstring).
    """
    # total unigram mass for the backoff denominator (one scalar)
    total = uni.agg(F.sum("c").alias("_N"))
    toks = df.select(
        F.col(id_col), _tokens(text_col).alias("t")
    ).where(F.size("t") > 0)
    with_bos = toks.select(
        id_col, F.concat(F.array(F.lit(BOS)), F.col("t")).alias("t")
    )
    m = F.size("t")  # resolves against with_bos (original tokens + BOS)
    pairs = F.arrays_zip(
        F.slice("t", 1, m - 1).alias("a"), F.slice("t", 2, m - 1).alias("b")
    )
    grams = with_bos.select(
        id_col, F.explode(pairs).alias("p")
    ).select(id_col, F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    # context counts: c(a, *) = unigram count of a, plus BOS mass
    bos_count = bi.where(F.col("a") == BOS).agg(
        F.sum("c").alias("c")
    ).select(F.lit(BOS).alias("w"), "c")
    ctx = uni.unionByName(bos_count)
    joined = (
        grams.join(
            bi.withColumnRenamed("c", "c_ab"), ["a", "b"], "left_outer"
        )
        .join(
            ctx.select(F.col("w").alias("a"), F.col("c").alias("c_a")),
            "a", "left_outer",
        )
        .join(
            uni.select(F.col("w").alias("b"), F.col("c").alias("c_b")),
            "b", "left_outer",
        )
        .crossJoin(F.broadcast(total))
    )
    known = F.col("c_ab").isNotNull()
    backoff = ~known & F.col("c_b").isNotNull()
    logprob = (
        F.when(known, F.log(F.col("c_ab") / F.col("c_a")))
        .when(backoff, F.log(F.lit(BACKOFF) * F.col("c_b") / F.col("_N")))
        # OOV: a fixed floor, 1/(10*N) — harsh but finite
        .otherwise(F.log(F.lit(0.1) / F.col("_N")))
    )
    return joined.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(known.cast("long")).alias("known_bigrams"),
        F.sum(backoff.cast("long")).alias("backoff_hits"),
        F.sum((~known & ~backoff).cast("long")).alias("oov"),
        F.avg(logprob).alias("avg_logprob"),
    )


def lm_filter(
    scores: DataFrame, min_known_pct: int = 50, max_oov_pct: int = 10,
) -> DataFrame:
    """CCNet-style keep/drop from the INTEGER diagnostics: keep when
    ``known_bigrams/n_tokens >= min_known_pct%`` and
    ``oov/n_tokens <= max_oov_pct%`` — compared via cross-
    multiplication, so the verdict is exact in any engine."""
    keep = (
        (F.col("known_bigrams") * 100 >= F.lit(min_known_pct) * F.col("n_tokens"))
        & (F.col("oov") * 100 <= F.lit(max_oov_pct) * F.col("n_tokens"))
    )
    return scores.withColumn("keep", keep)
