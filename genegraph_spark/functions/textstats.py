"""Text analysis for training-data pipelines: token counting, language-ID
heuristic, quality scoring, document fingerprints.

All JVM-side column expressions (no UDFs): deterministic and
oracle-recomputable. The reference's closest analogs are its text
normalization helpers (lowercase/trim, ``clinical_assertion.clj:84-91``)
and Lucene text indexing; these stats are engine capabilities required by
the training-data mandate."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish token pattern: word pieces, numbers, or single non-space symbols
BPE_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]


def whitespace_token_count(text: Column) -> Column:
    return F.size(F.filter(F.split(text, r"\s+"), lambda t: t != ""))


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish regex tokens (a cheap proxy for tokenizer cost)."""
    return F.coalesce(F.regexp_count(text, F.lit(BPE_RE)), F.lit(0))


def stopword_ratio(text: Column) -> Column:
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")
    hits = F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def distinct_token_ratio(text: Column) -> Column:
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")
    return F.when(F.size(toks) > 0, F.size(F.array_distinct(toks)) / F.size(toks)).otherwise(
        F.lit(0.0)
    )


def lang_id_en(text: Column) -> Column:
    """N-gram-free heuristic language ID: 'en' when the English stopword
    ratio is at least 0.05, else 'unknown'. (A real model plugs in
    here; the pipeline contract is a deterministic string column.)"""
    return F.when(stopword_ratio(text) >= 0.05, F.lit("en")).otherwise(F.lit("unknown"))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality: length band + lexical diversity +
    punctuation sanity. Deterministic; rounded for cross-engine compare."""
    n = whitespace_token_count(text)
    length_ok = F.when((n >= 20) & (n <= 10000), 1.0).otherwise(0.5)
    diversity = distinct_token_ratio(text)
    punct = F.length(F.regexp_replace(text, r"[^!?.,;:]", "")) / F.greatest(F.length(text), F.lit(1))
    punct_ok = F.when(punct <= 0.2, 1.0).otherwise(0.0)
    return F.round((length_ok + diversity + punct_ok) / 3.0, 6)


def content_fingerprint(text: Column) -> Column:
    """Exact content fingerprint (md5 of the raw text)."""
    return F.md5(text)


def rolling_fingerprint(text: Column, k: int = 3) -> Column:
    """Shingle fingerprint: min md5 over word k-shingles — a locality-ish
    rolling-window fingerprint; equal docs ⇒ equal prints, near-dups
    likely share them (the MinHash h0 of operators.dedup)."""
    toks = F.split(text, " ")
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
        lambda i: F.md5(F.array_join(F.slice(toks, i + 1, k), " ")),
    )
    return F.array_min(sh)


def repetition_stats(df, id_col: str = "doc_id", text_col: str = "text"):
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1, public):
    per-document top-bigram coverage and duplicated-trigram coverage —
    the standard "remove boilerplate/templated pages" signals a
    training-data pipeline applies before dedup.

    Returns (doc_id, n_tokens, top_bigram_frac, dup_trigram_frac):
      top_bigram_frac  = tokens covered by the single most frequent
                         bigram: max_count * 2 / n_tokens, capped at 1;
      dup_trigram_frac = tokens covered by trigrams occurring >1 time:
                         sum(count) * 3 / n_tokens, capped at 1.
    Fractions are 0 for docs too short to form a gram. Rounded to 6
    decimals (int/int division → cross-engine exact).

    Scale shape: one explode + groupBy(doc, gram) shuffle per gram size
    with map-side combine; state is bounded by per-document vocabulary,
    keys are (doc, gram) so hot documents don't make hot keys. No UDFs.
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
    # tokenized base is consumed 3× (bigram explode, trigram explode,
    # final sizes join); lazy localCheckpoint materializes it once and is
    # GC-reclaimed with the result — no pinned cache per call
    base = (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("tk"))
        .withColumn("n", F.size("tk"))
        .localCheckpoint(eager=False)
    )

    def grams(k):
        return F.when(
            F.col("n") >= k,
            F.transform(
                F.sequence(F.lit(0), F.col("n") - k),
                lambda i: F.array_join(F.slice("tk", i + 1, k), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    c2 = (
        base.select("doc_id", F.explode(grams(2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
    )
    top2 = c2.groupBy("doc_id").agg(F.max("c").alias("mx2"))
    c3 = (
        base.select("doc_id", F.explode(grams(3)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
    )
    dup3 = c3.where(F.col("c") > 1).groupBy("doc_id").agg(F.sum("c").alias("d3"))
    zero = F.lit(0.0)
    return (
        base.select("doc_id", "n")
        .join(top2, "doc_id", "left_outer")
        .join(dup3, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            F.round(
                F.when(
                    F.col("n") > 0,
                    F.least(F.lit(1.0), F.coalesce(F.col("mx2") * 2 / F.col("n"), zero)),
                ).otherwise(zero),
                6,
            ).alias("top_bigram_frac"),
            F.round(
                F.when(
                    F.col("n") > 0,
                    F.least(F.lit(1.0), F.coalesce(F.col("d3") * 3 / F.col("n"), zero)),
                ).otherwise(zero),
                6,
            ).alias("dup_trigram_frac"),
        )
    )


def corpus_filter(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """The composed training-data curation pass: every document scored on
    length / quality / language / repetition / exact duplication in one
    plan, returning keep/drop with machine-readable reasons (fewer than
    20 tokens, quality below 0.75, non-English, top-bigram or
    duplicate-trigram fraction above 0.2) — the filter
    chain a Common-Crawl-style pipeline runs before dedup+training
    (C4/Gopher-style rule filtering, all public heuristics).

    Exact-dup policy: among byte-identical texts the SMALLEST id is kept
    (deterministic), the rest get reason ``exact_dup``.

    Scale shape: stats are pure column expressions over one scan; the
    repetition join shuffles on doc_id; dup detection is one groupBy on
    the md5 fingerprint (map-side combined) + an equi-join back — no
    pairwise comparisons anywhere. ``drop_reasons`` is a sorted
    comma-joined string so downstream filters and the cross-engine
    oracle are order-stable.
    """
    t = F.col(text_col)
    # the (possibly expensive) input is consumed by the stats scan AND
    # repetition_stats, and stats itself by the fingerprint groupBy AND
    # the final join — checkpoint both once (lazy; GC-reclaimed)
    df = df.localCheckpoint(eager=False)
    stats = df.select(
        F.col(id_col).alias("doc_id"),
        whitespace_token_count(t).alias("n_tokens"),
        quality_score(t).alias("quality"),
        lang_id_en(t).alias("lang_guess"),
        content_fingerprint(t).alias("_fp"),
    ).localCheckpoint(eager=False)
    rep = repetition_stats(df, id_col, text_col).drop("n_tokens")
    first = stats.groupBy("_fp").agg(F.min("doc_id").alias("_keep_id"))
    j = stats.join(rep, "doc_id").join(first, "_fp")
    reasons = F.array_sort(
        F.filter(
            F.array(
                F.when(F.col("n_tokens") < 20, F.lit("too_short")),
                F.when(F.col("quality") < 0.75, F.lit("low_quality")),
                F.when(F.col("lang_guess") != "en", F.lit("non_english")),
                F.when(F.col("top_bigram_frac") > 0.2, F.lit("repetitive_bigram")),
                F.when(F.col("dup_trigram_frac") > 0.2, F.lit("repetitive_trigram")),
                F.when(F.col("doc_id") != F.col("_keep_id"), F.lit("exact_dup")),
            ),
            lambda x: x.isNotNull(),
        )
    )
    return j.select(
        "doc_id",
        "n_tokens",
        "quality",
        "top_bigram_frac",
        "dup_trigram_frac",
        "lang_guess",
        F.array_join(reasons, ",").alias("drop_reasons"),
        (F.size(reasons) == 0).alias("keep"),
    )


# PII patterns (public, C4-style scrubbing): kept simple and portable so
# both engines (Java regex and DuckDB/RE2) compile them identically.
# PRIORITY order: emails first (their digits must not be half-eaten),
# then IPv4 (a dotted quad ≥11 chars would otherwise match the looser
# phone run), phones last.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
    ("phone", r"\+?[0-9][0-9()\-\. ]{7,}[0-9]"),
]


def scrub_pii(text: Column) -> Column:
    """Redact emails, IPv4s, and phone-like digit runs with typed tokens
    (``<EMAIL>``/``<IPV4>``/``<PHONE>``) — the standard pre-training
    scrub pass. Pure chained ``regexp_replace`` (JVM-side, order-stable);
    a real deployment swaps in its compliance-approved pattern set."""
    out = text
    for name, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def pii_counts(text: Column) -> Column:
    """(email, ipv4, phone) hit counts as a struct — the audit metric a
    scrub job reports per partition. Priority-aware: each pattern is
    counted on text with higher-priority matches already masked, so an
    IP inside a document is never double-counted as a phone."""
    counts = []
    cur = text
    for name, pat in PII_PATTERNS:
        counts.append(F.coalesce(F.regexp_count(cur, F.lit(pat)), F.lit(0)).alias(name))
        cur = F.regexp_replace(cur, pat, f"<{name.upper()}>")
    return F.struct(*counts)


def split_assign(id_col: Column) -> Column:
    """Deterministic 90/5/5 train/val/test assignment: md5(id||salt) →
    bucket in [0,100) → split label. The standard reproducible
    dataset-split discipline — assignment is a pure function of the id
    and the versioned salt "split-v1", so it is stable across
    runs/engines/partitionings and documents never migrate between
    splits when the corpus grows. No sampling RNG anywhere
    (Spark's sample() is partitioning-dependent — useless as an oracle
    or an audit trail)."""
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(id_col.cast("string"), F.lit("split-v1"))), 1, 8), 16, 10
        )
        .cast("bigint"),
        F.lit(100),
    )
    return (
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    token ``n``-gram with a held-out benchmark set — the standard
    n-gram-overlap decontamination pass a training-data pipeline runs
    before a corpus ships (the published GPT-3 / PaLM recipe: 8-13 gram
    collision against eval sets).

    Returns every ``docs`` row as (id, n_hits, contaminated): ``n_hits``
    = number of distinct benchmark n-grams found in the document.

    Scale: the benchmark side is FIXED-size (eval suites, not corpus) —
    its distinct n-gram set broadcasts; the corpus side is one
    explode + broadcast join + groupBy(id), so cost is one pass over the
    corpus regardless of corpus size. No UDFs, md5-free, deterministic.
    """
    from ..operators.dedup import shingles

    bench_grams = (
        shingles(benchmark, id_col=id_col, text_col=text_col, k=n)
        .select("shingle")
        .distinct()
    )
    doc_grams = shingles(docs, id_col=id_col, text_col=text_col, k=n)
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left_outer")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def domain_mix_sample(
    docs: DataFrame,
    rates: dict,
    default_rate: float = 0.0,
    domain_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-domain downsampling to a target mixture: keep a
    document iff its md5(id‖"|mix") bucket falls under its domain's rate —
    the domain-reweighting step that turns a raw crawl into a training
    mixture (per-source sampling weights).

    Hash-based like :func:`train_val_test_split`: stable under corpus
    growth (a document's keep/drop never changes when other documents
    arrive), no RNG, engine-reproducible (md5 integer math, no float
    division). The rate table is a literal CASE chain — no join, fully
    codegen'd; one filter pass over the corpus."""
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit("|mix"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    rate_expr = None
    for dom, rate in sorted(rates.items()):
        thr = F.lit(int(rate * 4294967296))
        cond = F.col(domain_col) == dom
        rate_expr = F.when(cond, thr) if rate_expr is None else rate_expr.when(cond, thr)
    thr_default = F.lit(int(default_rate * 4294967296))
    rate_expr = thr_default if rate_expr is None else rate_expr.otherwise(thr_default)
    return docs.where(bucket < rate_expr)


def pack_sequences(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    max_len: int = 2048,
    n_shards: int = 64,
    salt: str = "pack-v1",
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing for training-batch
    construction: within each shard, documents concatenate in a
    deterministic order and the token stream chunks into fixed
    ``max_len`` sequences — documents MAY straddle a chunk boundary
    (the standard LM-pretraining packing; zero padding waste by
    construction).

    Documents shard deterministically by md5(id||salt) (same discipline
    as :func:`split_assign` — stable across runs/engines/partitionings)
    and order within a shard by (md5-sort-key, id). Returns the input
    columns + (shard, start_seq, start_offset, end_seq, seq_id): the
    chunk index + token offset where the document starts, the chunk
    where its last token lands (> start_seq ⇒ it straddles), and
    seq_id = "shard:start_seq".

    Scale shape: ONE hash shuffle into ``n_shards`` md5 shards and one
    running-sum window per shard — closed-form chunk arithmetic over the
    cumulative token count, no global window, no iterative packing loop,
    no driver state. Shard count is a parallelism knob independent of
    input partitioning; chunk ids are (shard, index) pairs so they never
    collide across shards."""
    from pyspark.sql import Window

    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit("|" + salt)))
    shard = F.pmod(
        F.conv(F.substring(key, 1, 8), 16, 10).cast("bigint"), F.lit(n_shards)
    )
    toks = F.col(tokens_col).cast("long")
    d = docs.withColumn("shard", shard).withColumn("_key", key)
    w = Window.partitionBy("shard").orderBy("_key", id_col)
    cum = F.sum(toks).over(w)  # tokens up to and including this doc
    start = cum - toks
    return (
        d.withColumn("start_seq", F.floor(start / F.lit(max_len)))
        .withColumn("start_offset", start % F.lit(max_len))
        .withColumn("end_seq", F.floor((cum - 1) / F.lit(max_len)))
        .withColumn(
            "seq_id",
            F.concat(
                F.col("shard").cast("string"), F.lit(":"),
                F.col("start_seq").cast("string"),
            ),
        )
        .drop("_key")
    )


# -- URL canonicalization (web-corpus dedup prior) ---------------------------

# tracking parameters stripped during canonicalization (the public
# web-pipeline convention: UTM campaign tags + click identifiers)
TRACKING_PARAMS = ["fbclid", "gclid", "msclkid"]


def normalize_url(url: Column) -> Column:
    """Canonical URL form for web-corpus dedup: lowercase scheme+host,
    strip default ports (http:80 / https:443), drop the fragment, remove
    tracking query params (``utm_*`` + :data:`TRACKING_PARAMS`), sort
    the surviving params, empty path → ``/``, and strip one trailing
    slash from non-root paths.

    The reference pins its event keys to stable IRIs before graph
    replace (``sink/event.clj:23-46``); the web analog is URL
    canonicalization before URL-level dedup. Pure column expressions —
    whole-stage codegen, no UDFs, deterministic for the DuckDB oracle.

    Scale shape: map-only; the downstream dedup groupBy on the
    canonical form is the only shuffle."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    rest = F.regexp_replace(rest, r"#.*$", "")  # fragment never reaches servers
    hostport = F.regexp_extract(rest, r"^([^/?]*)", 1)
    host = F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1))
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~F.lower(p).startswith("utm_")
        & ~F.lower(F.regexp_extract(p, r"^([^=]*)", 1)).isin(TRACKING_PARAMS),
    )
    qnorm = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        _strip_trailing_slash(F.regexp_extract(rest, r"^[^/?]*([^?]*)", 1)),
        F.when(qnorm != "", F.concat(F.lit("?"), qnorm)).otherwise(F.lit("")),
    )


def _strip_trailing_slash(path: Column) -> Column:
    path = F.when(path == "", F.lit("/")).otherwise(path)
    return F.when(
        (F.length(path) > 1) & path.endswith("/"),
        path.substr(F.lit(1), F.length(path) - 1),
    ).otherwise(path)


def url_duplicate_groups(df, url_col: str = "url"):
    """URL-level dedup over canonicalized urls: one row per canonical
    url with the member count and the smallest original form as the
    deterministic survivor. One groupBy shuffle on the canonical url."""
    return (
        df.select(F.col(url_col), normalize_url(F.col(url_col)).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_urls"),
            F.min(url_col).alias("survivor_url"),
        )
    )


def boilerplate_lines(
    docs,
    domain_col: str = "domain",
    text_col: str = "text",
    min_ratio: float = 0.5,
    min_docs: int = 3,
):
    """Per-domain boilerplate line detection — the CCNet/C4 corpus-prep
    rule: a line appearing in at least ``min_ratio`` of a domain's
    documents (and at least ``min_docs`` of them) is boilerplate
    (cookie banners, nav bars, footers). Returns (domain, line,
    n_docs, domain_docs, ratio).

    Scale shape: one explode (map-side), one (domain, line) groupBy
    with map-side partial aggregation, one dimension-scale domain-count
    join. A line counts ONCE per document for the ratio regardless of
    how many times it repeats inside that document."""
    dom, txt = F.col(domain_col), F.col(text_col)
    lines = docs.select(
        dom.alias("domain"),
        F.col("doc_id"),
        F.explode(F.split(txt, F.lit("\n"), -1)).alias("line"),
    ).where(F.col("line") != "")
    per_line = lines.groupBy("domain", "line").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    per_domain = docs.groupBy(dom.alias("domain")).agg(
        F.countDistinct("doc_id").alias("domain_docs")
    )
    return (
        per_line.join(per_domain, "domain")
        .withColumn("ratio", F.col("n_docs") / F.col("domain_docs"))
        .where((F.col("ratio") >= min_ratio) & (F.col("n_docs") >= min_docs))
    )


def strip_boilerplate(
    docs,
    domain_col: str = "domain",
    text_col: str = "text",
    min_ratio: float = 0.5,
    min_docs: int = 3,
):
    """Remove per-domain boilerplate lines from every document,
    preserving the order of the surviving lines. Returns the input rows
    with ``text`` replaced by the cleaned text (documents reduced to
    nothing keep an empty string).

    Scale shape: the detection shuffles above + one posexplode, one
    (domain, line) left-anti join back (co-keyed with the detection
    output — no broadcast of a possibly-large boilerplate set), one
    doc_id groupBy with an in-group sort for reassembly."""
    bl = boilerplate_lines(docs, domain_col, text_col, min_ratio, min_docs)
    dom, txt = F.col(domain_col), F.col(text_col)
    pos_lines = docs.select(
        F.col("doc_id"),
        dom.alias("domain"),
        F.posexplode(F.split(txt, F.lit("\n"), -1)).alias("pos", "line"),
    ).where(F.col("line") != "")
    kept = pos_lines.join(
        bl.select("domain", "line"), ["domain", "line"], "left_anti"
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text")
    )
    return (
        docs.join(rebuilt, "doc_id", "left_outer")
        .withColumn("clean_text", F.coalesce("clean_text", F.lit("")))
    )


def stratified_sample(
    df,
    strata_cols: list[str],
    n_per_stratum: int,
    id_col: str = "doc_id",
):
    """Deterministic exact-quota stratified sampling (eval/holdout-set
    construction): exactly ``min(n, stratum_size)`` rows per stratum,
    selected by md5-of-id order so the choice is stable across runs,
    partitionings, and engines — no RNG, no seed plumbing.

    Scale shape: one hash shuffle on the strata columns + a per-stratum
    window (rows of a stratum colocate; each stratum sorts
    independently). For pathological mega-strata (≫ executor memory),
    pre-filter with an approximate md5-threshold pass and window only
    the survivors — the exact window here is the correctness baseline.
    """
    from pyspark.sql import Window

    key = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(*strata_cols).orderBy(key, F.col(id_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def vocabulary(
    df,
    text_col: str = "text",
    min_count: int = 1,
):
    """Frequency-ranked vocabulary (tokenizer prep): lowercased whitespace tokens →
    (token, count, rank), rank 1 = most frequent, ties broken
    lexically so the id assignment is deterministic across runs and
    engines.

    Scale shape: one explode + one (token) groupBy with map-side
    partial aggregation does the corpus-scale work. The global rank is
    ``ranking.global_row_number`` — a TWO-STAGE range-partitioned rank,
    not a single-partition window (at web scale the distinct-token
    table is 10⁸–10⁹ rows even after ``min_count``). (token) is unique
    after the groupBy, so ``(count DESC, token ASC)`` totally orders
    the vocabulary and the final ranks are deterministic regardless of
    where the sampled range boundaries fall."""
    from ..operators.ranking import global_row_number

    tokens = df.select(
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+", -1)).alias("token")
    ).where(F.col("token") != "")
    counts = tokens.groupBy("token").agg(F.count("*").alias("count")).where(
        F.col("count") >= min_count
    )
    # rank stays LONG end-to-end (review-caught: an int cast silently
    # overflows past 2^31-1 tokens — the very scale this operator is
    # designed for; DuckDB's row_number is BIGINT too)
    ranked, _total = global_row_number(
        counts,
        [F.desc("count"), F.asc("token")],
        rank_col="rank",
        order_keys=[("count", True), ("token", False)],
    )
    return ranked


def chunk_windows(
    df, window: int = 64, stride: int = 48,
    id_col: str = "doc_id", text_col: str = "text",
):
    """Sliding-window document chunking — the RAG-retrieval /
    long-document training-window prep step: overlapping token windows
    of ``window`` tokens advancing by ``stride`` (stride < window ⇒
    overlap), the LAST window truncated, short documents yielding one
    window. Public recipe: the fixed-size+overlap chunking every
    retrieval pipeline documents (e.g. the LangChain/LlamaIndex
    text-splitter defaults).

    Spark-first: tokens → a ``sequence(0, n_windows-1)`` explode →
    per-window ``slice`` + join — pure column expressions, one narrow
    stage, no shuffle at all (windowing is per-document). The window
    count uses the closed integer form
    ``1 + ceil((n_tokens - window) / stride)`` so both engines derive
    identical windows. Requires ``stride <= window``: with a gap
    (stride > window) the closed form's last window start can land at
    or past the end of the token array and emit EMPTY windows (ADVICE
    r5) — gapped sampling is a different operator."""
    if window < 1 or stride < 1:
        raise ValueError(f"window/stride must be >= 1, got {window}/{stride}")
    if stride > window:
        raise ValueError(
            f"stride ({stride}) > window ({window}) would emit empty "
            "trailing windows; use stride <= window"
        )
    t = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    base = df.select(F.col(id_col), t.alias("_t")).where(F.size("_t") > 0)
    n = F.size("_t")
    extra = n - F.lit(window)
    n_win = F.when(extra <= 0, F.lit(1)).otherwise(
        (F.floor((extra + stride - 1) / stride) + 1).cast("int")
    )
    out = base.select(
        id_col, "_t",
        F.explode(F.sequence(F.lit(0), n_win - 1)).alias("window_ix"),
    )
    start0 = F.col("window_ix") * stride
    win_toks = F.slice("_t", start0 + 1, window)
    return out.select(
        id_col,
        F.col("window_ix").cast("long").alias("window_ix"),
        start0.cast("long").alias("start_tok"),
        F.size(win_toks).cast("long").alias("n_window_tokens"),
        F.array_join(win_toks, " ").alias("window_text"),
    )
