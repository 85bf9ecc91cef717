"""Gazetteer mention detection + contextual entity-link scoring.

Reference analog: genegraph resolves symbolic names against its curated
identifier dictionary on every transform — per-event lookups like the
``?gene :owl/same-as ?hgnc_gene`` join
(``src/genegraph/transform/gene_validity_refactor.clj:347-348``) and the
per-row symbol queries (``src/genegraph/transform/hi_index.clj:13``).

One linking semantics, two engines:

* **Hot path** — :func:`make_page_mapper`, an Arrow-batched
  ``mapInPandas`` stage that extracts, tokenizes, matches against the
  broadcast gazetteer (compiled driver-side by :func:`gazetteer_payload`)
  and disambiguates in one pass per page, emitting slim per-page int
  arrays. ``construct_kg`` and every KG leaf use it.
* **Reference** — the JVM-side composition :func:`detect_mentions` →
  :func:`link_entities` → :func:`mention_counts` (broadcast hash join of
  the exploded token stream against the exploded alias table). It is the
  reference the mapper is tested against (a test pins the two outputs
  equal); ``kg_mentions_preferred`` and the streaming mention counts use
  its detection step.

Disambiguation (two entities sharing a surface form): label-kind weight
(:data:`KIND_WEIGHT`, preferred > alt > hidden — the skos ranking of
transform/gene.clj:51-67) plus document-context support (how many
*distinct* surface forms of the same entity occur in the document), then
a deterministic argmax per (doc, position), ties on the smaller IRI.

Scale notes (100 TB): the join composition's token explode multiplies
rows ~200× but never shuffles — detection is explode → broadcast-join →
local aggregation, and the only shuffles are the per-(doc,entity)
aggregations, keyed by doc so Zipf-skewed hot *entities* (BRCA1-class)
do not create hot *keys*.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: skos label-kind ranking, strongest first; the single source for the
#: mapper's gazetteer and the join composition's scoring
KIND_WEIGHT = {"preferred": 3, "alt": 2, "hidden": 1}


def _kind_weight() -> Column:
    """:data:`KIND_WEIGHT` of ``label_kind`` as a CASE expression; an
    unknown kind weighs as the weakest."""
    cases = [(F.col("label_kind") == k, w) for k, w in KIND_WEIGHT.items()]
    expr = F.when(*cases[0])
    for cond, w in cases[1:]:
        expr = expr.when(cond, w)
    return expr.otherwise(min(KIND_WEIGHT.values()))


def tokenize(pages: DataFrame, id_col: str = "url", text_col: str = "text") -> DataFrame:
    """(id, pos, token) stream — whitespace tokenization, JVM-side."""
    return (
        pages.select(id_col, F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "token"))
        .where(F.col("token") != "")
    )


def detect_mentions(tokens: DataFrame, alias: DataFrame) -> DataFrame:
    """Candidate mentions: broadcast-join tokens against the alias table.

    Returns (id, pos, token, iri, entity_type, label_kind) — one row per
    candidate entity per token occurrence (ambiguous tokens fan out).
    """
    return tokens.join(
        F.broadcast(alias.withColumnRenamed("label", "token")), "token", "inner"
    )


def link_entities(candidates: DataFrame, alias: DataFrame, id_col: str = "url") -> DataFrame:
    """Resolve ambiguous candidates to one entity per (doc, position).

    Contract: the alias table feeding detect_mentions must be unique on
    (label, iri) — ``fixtures.alias_df`` is — because
    unambiguous-label candidates pass through without a per-(doc, pos)
    pick and duplicate alias rows would double-count mentions.

    score = 10 * kind_weight + context_support, where context_support =
    number of distinct surface forms of the entity seen in the document.
    Ties break on iri (deterministic). Returns
    (id, pos, token, iri, entity_type, label_kind).

    Scale path: ambiguity is a property of the (tiny) gazetteer, so only
    occurrences of *ambiguous* surface forms pay the per-(doc,pos) window
    shuffle and the per-(doc,entity) support aggregation — unambiguous
    tokens (the overwhelming majority of a Zipf-skewed corpus, including
    the BRCA1-class hot head) pass through map-only.
    """
    out_cols = [id_col, "pos", "token", "iri", "entity_type", "label_kind"]
    # candidates is consumed THREE times below (ambiguous slice,
    # unambiguous slice, support input); without a cut the whole
    # upstream — page synthesis, version window, token explode,
    # gazetteer join — executes three times (plan-audited: the
    # tokenize→window→explode subtree appeared 3x). One lazy
    # localCheckpoint makes the three consumers share a single
    # evaluation; at lake scale this is the persisted slim
    # candidate-mention intermediate.
    candidates = candidates.localCheckpoint(eager=False)
    amb_labels = (
        alias.groupBy("label")
        .agg(F.countDistinct("iri").alias("_n"))
        .where("_n > 1")
        .select(F.col("label").alias("token"))
    )
    amb_entities = (
        alias.join(amb_labels, alias["label"] == amb_labels["token"])
        .select("iri")
        .distinct()
    )
    cand_amb = candidates.join(F.broadcast(amb_labels), "token", "left_semi")
    cand_unamb = candidates.join(F.broadcast(amb_labels), "token", "left_anti")
    support = (
        candidates.join(F.broadcast(amb_entities), "iri", "left_semi")
        .groupBy(id_col, "iri")
        .agg(F.countDistinct("token").alias("context_support"))
    )
    scored = cand_amb.join(support, [id_col, "iri"]).withColumn(
        "score", _kind_weight() * 10 + F.col("context_support")
    )
    w = Window.partitionBy(id_col, "pos").orderBy(F.desc("score"), F.asc("iri"))
    picked = scored.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    return cand_unamb.select(*out_cols).unionByName(picked.select(*out_cols))


MAP_SCHEMA = (
    "url string, doc_id long, version int, lang string, is_del boolean, ok boolean, "
    "m_cidx array<int>, m_cnt array<int>, m_pos array<int>"
)


def gazetteer_payload(alias_rows, canon_of: dict[str, str]):
    """Driver-side gazetteer compilation for the fused pandas stage.

    Returns (by_label, canon_idx_of_entity, cidx_to_iri):
      by_label: label -> [(eidx, kind_weight)]
      entity indexes in sorted-IRI order (deterministic tie-break),
      canonical indexes likewise."""
    iris = sorted({r["iri"] for r in alias_rows})
    eidx = {iri: i for i, iri in enumerate(iris)}
    canon_iris = sorted({canon_of[i] for i in iris})
    cidx = {iri: i for i, iri in enumerate(canon_iris)}
    by_label: dict[str, dict[int, int]] = {}
    for r in alias_rows:
        # (label, entity) unique, strongest kind wins (the link_entities
        # contract — duplicates would double-count mentions)
        ents = by_label.setdefault(r["label"], {})
        e = eidx[r["iri"]]
        ents[e] = max(ents.get(e, 0), KIND_WEIGHT[r["label_kind"]])
    by_label = {l: sorted(ents.items()) for l, ents in by_label.items()}
    e_to_c = {eidx[i]: cidx[canon_of[i]] for i in iris}
    return by_label, e_to_c, canon_iris


def make_page_mapper(by_label, e_to_c, use_golden_text: bool):
    """Arrow-batched mapInPandas function: html → extracted text →
    tokenize → gazetteer match → contextual disambiguation → per-page
    canonical mention counts. This is the north-star hot path: one pass
    per page inside Python worker processes (independent heaps — scales
    linearly with cores), emitting only slim int arrays to the JVM; the
    page text never enters a shuffle.

    Disambiguation = argmax(10*kind_weight + context_support) per surface
    form with min-entity-index tie-break; context_support = number of the
    entity's distinct surface forms present in the document (identical to
    the detect_mentions → link_entities → mention_counts reference)."""
    import pandas as pd

    from ..functions.text import extract_text_py

    label_entities = {l: {e for e, _ in cands} for l, cands in by_label.items()}
    entity_labels: dict[int, set[str]] = {}
    for l, cands in by_label.items():
        for e, _ in cands:
            entity_labels.setdefault(e, set()).add(l)
    tomb_marker = b'<meta name="status" content="unpublished"'

    def link_text(text: str):
        toks = text.split(" ")
        present = {t for t in toks if t in by_label}
        if not present:
            return [], [], []
        support = {
            e: sum(1 for l in entity_labels[e] if l in present)
            for l in present
            for e in label_entities[l]
        }
        win: dict[str, int] = {}
        for l in present:
            cands = by_label[l]
            win[l] = min(cands, key=lambda ek: (-(ek[1] * 10 + support[ek[0]]), ek[0]))[0]
        out: dict[int, tuple[int, int]] = {}
        for pos, t in enumerate(toks):
            e = win.get(t)
            if e is None:
                continue
            c = e_to_c[e]
            n, mp = out.get(c, (0, pos))
            out[c] = (n + 1, min(mp, pos))
        ks = sorted(out)
        return ks, [out[k][0] for k in ks], [out[k][1] for k in ks]

    def mapper(batches):
        for pdf in batches:
            if use_golden_text:
                texts = pdf["text"]
            else:
                texts = pdf["html"].map(extract_text_py)
            is_del = pdf["html"].map(lambda h: h is not None and tomb_marker in h)
            ok = texts.notna() | is_del
            mentions = [
                link_text(t) if (t is not None and not d) else ([], [], [])
                for t, d in zip(texts, is_del)
            ]
            yield pd.DataFrame({
                "url": pdf["url"],
                "doc_id": pdf["doc_id"],
                "version": pdf["version"],
                "lang": pdf["lang"],
                "is_del": is_del,
                "ok": ok,
                "m_cidx": [m[0] for m in mentions],
                "m_cnt": [m[1] for m in mentions],
                "m_pos": [m[2] for m in mentions],
            })

    return mapper


def mention_counts(linked: DataFrame, id_col: str = "url", entity_col: str = "iri") -> DataFrame:
    """(id, entity, n_mentions, first_pos) per linked entity.

    Call *after* canonicalization (entity_col='canonical_iri') so entities
    merged into one component aggregate into one mention record.
    """
    return linked.groupBy(id_col, entity_col).agg(
        F.count("*").alias("n_mentions"), F.min("pos").alias("first_pos")
    )
