"""Cross-curation supersession: a newly published curation replaces an
existing curation that asserts the same (gene, disease, mode-of-
inheritance) key under a DIFFERENT graph IRI, and the superseded graph
is deleted from the store.

Reference analog: ``src/genegraph/annotate/replaces.clj:9-36`` — a
SPARQL lookup finds the existing curation whose subject tuple matches
the incoming one (a new GCI curation replacing an old GCI-Express one:
different IRI, same key), and ``src/genegraph/sink/event.clj:53-58``
deletes that graph when the new one lands. This is DIFFERENT from the
same-key version chain (operators/versioned.py): the lookup key is an
attribute tuple, not the entity id.

Spark-first: one equi-join on the key tuple. The incoming batch is
small relative to the installed base, so it broadcasts; the installed
curation-key index is a slim table (graph + key columns) maintained as
a projection of the store — never the full triples.

Scale notes: key tuples are low-cardinality relative to the corpus and
the join is broadcast-left — no shuffle of the installed base. Skewed
keys (a disease area with thousands of curations) only fan out the few
incoming rows that hit them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def find_superseded(
    installed: DataFrame,
    incoming: DataFrame,
    key_cols: list[str],
    id_col: str = "graph",
) -> DataFrame:
    """Pairs (graph, supersedes): for each incoming curation, every
    installed curation sharing its key tuple under a different id.

    ``installed``/``incoming``: (id_col, *key_cols) projections."""
    inc = incoming.select(F.col(id_col).alias("graph"), *key_cols)
    inst = installed.select(F.col(id_col).alias("supersedes"), *key_cols)
    return (
        inc.join(inst, key_cols)
        .where(F.col("graph") != F.col("supersedes"))
        .select("graph", "supersedes")
    )
