"""BPE tokenizer training over a corpus — merge-table learning.

The missing tokenizer-prep step of the training-data pipeline tier:
learn byte-pair-encoding merges from a document corpus the way
SentencePiece/HF trainers do — pre-tokenize to WORDS, aggregate word
frequencies once, then run the merge loop over the aggregated
word-frequency table. Public algorithm: Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units" (the
word-counts formulation of its Algorithm 1).

Spark-first cost model: the CORPUS is touched exactly once (one
explode + one map-side-combined groupBy for word counts). Every merge
iteration then runs over the DIMENSION-scale distinct-word table
(vocab-sized, still a distributed frame): one pair-explode +
aggregation to score pairs, a single-row driver collect for the argmax
(bounded — one row per iteration, like graph_pagerank's fixed-iteration
driver loop), and one narrow map applying the merge. No per-document
state, no Python in any per-row path.

Determinism + cross-engine parity: candidate pairs tie-break on
(count DESC, pair ASC). A word's symbol sequence is stored as tokens
joined by TWO spaces; applying a merge pads the string with one outer
space and literal-replaces ``" a  b "`` with ``" ab "``. With double
boundaries, a left-to-right scan that resumes after each replacement
(what both Spark's and DuckDB's literal ``replace`` do) merges exactly
the classic BPE non-overlapping occurrences — including consecutive
matches like ``a a a a → aa aa``, which single-space boundaries would
miss because the replacement consumes the shared separator.

The end-of-word marker ("</w>", Sennrich's convention) is appended as
its own symbol so merges can learn word-final units.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END_OF_WORD = "</w>"
SEP = "  "  # double-space symbol boundary (see module docstring)


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One corpus pass → (word, n). Whitespace pre-tokenization (the
    repo-wide portable convention), lowercased; empty tokens drop."""
    tok = F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word")
    return df.select(tok).where(F.col("word") != "").groupBy("word").agg(F.count("*").alias("n"))


def symbolize(words: DataFrame) -> DataFrame:
    """(word, n) → (seq, n): the word as double-space-separated single
    characters plus the end-of-word marker."""
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != "")
    seq = F.concat(
        F.array_join(chars, SEP), F.lit(SEP + END_OF_WORD)
    )
    return words.select(seq.alias("seq"), "n")


def _pair_counts(seqs: DataFrame) -> DataFrame:
    """Adjacent-symbol pair frequencies weighted by word count."""
    t = F.split(F.col("seq"), SEP)
    n_sym = F.size(t)
    pairs = F.arrays_zip(
        F.slice(t, 1, n_sym - 1).alias("a"),
        F.slice(t, 2, n_sym - 1).alias("b"),
    )
    return (
        seqs.where(n_sym >= 2)
        .select(F.explode(pairs).alias("p"), "n")
        .select(
            F.concat_ws(" ", F.col("p.a"), F.col("p.b")).alias("pair"), "n"
        )
        .groupBy("pair")
        .agg(F.sum("n").alias("count"))
    )


def _apply_merge(seq: Column, a: str, b: str) -> Column:
    """Classic leftmost non-overlapping merge of (a, b) → ab over a
    double-space-boundary symbol string (see module docstring for why
    this equals the BPE scan in both engines)."""
    padded = F.concat(F.lit(" "), seq, F.lit(" "))
    merged = F.replace(
        padded, F.lit(f" {a}{SEP}{b} "), F.lit(f" {a}{b} ")
    )
    return F.trim(merged)


def bpe_merges(df: DataFrame, n_merges: int, text_col: str = "text") -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns the ordered merge table
    (rank, left, right, merged, pair_count) — the artifact a tokenizer
    ships. The corpus is read once; each iteration is vocab-scale."""
    spark = df.sparkSession
    seqs = symbolize(word_counts(df, text_col))
    # the loop re-reads seqs once per iteration — pin the (vocab-scale)
    # frame and cut lineage so iteration i doesn't replay 0..i-1
    seqs = seqs.localCheckpoint(eager=True)
    out = []
    for rank in range(n_merges):
        best = (
            _pair_counts(seqs)
            .orderBy(F.col("count").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, count = best[0]["pair"], best[0]["count"]
        a, b = pair.split(" ")
        out.append((rank, a, b, a + b, count))
        seqs = seqs.select(
            _apply_merge(F.col("seq"), a, b).alias("seq"), "n"
        ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        out, "rank int, left string, right string, merged string,"
        " pair_count bigint",
    )


def encode_words(
    words: DataFrame, merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply a learned merge list to (word, n) rows → (word, n,
    tokens array) — tokenization under the trained vocab. The merge
    chain is a fixed sequence of narrow column maps over the DISTINCT
    word table (vocab-scale); per-document token ids then come from one
    broadcast join of documents' words against this table, never from
    per-row Python."""
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != "")
    seq = F.concat(
        F.array_join(chars, SEP), F.lit(SEP + END_OF_WORD)
    )
    for a, b in merges:
        seq = _apply_merge(seq, a, b)
    return words.select(
        "word", "n", F.split(seq, SEP).alias("tokens")
    )
