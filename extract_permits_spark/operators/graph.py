"""Connected components over a near-duplicate pair list (LLM dedup ops).

Near-dup detectors (MinHash-LSH, SimHash, n-gram Jaccard — see
``functions/similarity.py``) emit PAIRS ``(id_a, id_b)``. Turning pairs
into deduplication decisions needs the transitive closure: if A~B and
B~C, then {A,B,C} is one duplicate *cluster* and one canonical document
survives.

Scale notes (100 TB lens):
- The edge list is tiny relative to the corpus: it holds near-dup pairs,
  and the callers collapse exact duplicates first (``_collapsed_edges``
  and ``_emb_components_cached`` re-attach twins as star edges), so a
  k-copy flood adds k edges, not k². The largest edge list any caller
  builds at sf0.1 is 16,230 pairs (``phash_pairs``).
- So the closure runs on the driver: one Arrow collect of the edge list,
  a vectorized numpy min-label pass, one ``createDataFrame``. The
  result reads no checkpoint, so it is safe to memoize as it is.
- The driver pass is bounded by ``_MAX_EDGES`` (3.3 s warm on 4 vCPUs
  for a path of 2^20 edges in random id order, collect included;
  SCALE.md, "Connected components on the driver") and raises past it
  rather than exhausting driver memory. A graph past the bound needs the
  distributed alternating large-star/small-star algorithm (Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14), O(log
  n) shuffle rounds.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_EDGES = 1 << 20


def connected_components(edges: DataFrame) -> DataFrame:
    """Transitive closure of an undirected ``(id_a, id_b)`` pair list.

    Returns ``(id, component)`` with one row per distinct vertex in
    ``edges``; ``component`` is the MINIMUM vertex id reachable from
    ``id`` (a deterministic, order-independent cluster key).

    Vertices are factorized to dense indices in id order, so the minimum
    index of a component is its minimum id. Each pass hooks, for every
    edge, the root (current label) of either end under the other end's
    label (``np.minimum.at``), then pointer-jumps ``label <-
    label[label]`` to a fixpoint. Both steps keep "label(v) is a vertex
    of v's component, no greater than v"; a pass that changes nothing
    leaves every edge's ends on one root, the component minimum. Hooking
    roots, not vertices, contracts a chain of any diameter in O(log n)
    passes (14 for a 1M-edge chain in random id order).

    Raises ``ValueError`` past ``_MAX_EDGES`` edges or on a null endpoint.
    """
    table = edges.select("id_a", "id_b").limit(_MAX_EDGES + 1).toArrow()
    if table.num_rows > _MAX_EDGES:
        raise ValueError(
            f"connected_components: more than {_MAX_EDGES} edges; the driver "
            "pass is bounded (collapse exact duplicates first)"
        )
    if table.column("id_a").null_count or table.column("id_b").null_count:
        raise ValueError("connected_components: null edge endpoint")
    a, b = (table.column(c).to_numpy() for c in ("id_a", "id_b"))
    ids, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = idx[: len(a)], idx[len(a) :]
    label = np.arange(len(ids))
    while True:
        new = label.copy()
        np.minimum.at(new, label[u], label[v])
        np.minimum.at(new, label[v], label[u])
        jumped = new[new]
        while not np.array_equal(jumped, new):
            new, jumped = jumped, jumped[jumped]
        if np.array_equal(new, label):
            break
        label = new
    return edges.sparkSession.createDataFrame(
        pa.table({"id": ids, "component": ids[label]})
    )


def canonical_per_cluster(
    components: DataFrame,
    docs: DataFrame,
    quality_col: str | None = None,
) -> DataFrame:
    """One canonical survivor per duplicate cluster.

    Joins ``(id, component)`` back to ``docs`` and keeps, per component,
    the row with the highest ``quality_col`` (ties and absent quality →
    lowest ``doc_id``, so the choice is deterministic). Returns
    ``(component, canonical_id, cluster_size)``.

    One shuffle on ``component`` (the window); the docs join broadcasts
    when the clustered subset is small, which it is by construction —
    only documents that appeared in a near-dup pair are present.
    """
    from pyspark.sql import Window

    joined = components.join(
        docs.select(F.col("doc_id").alias("id"), *([quality_col] if quality_col else [])),
        "id",
    )
    order = (
        [F.col(quality_col).desc(), F.col("id").asc()]
        if quality_col
        else [F.col("id").asc()]
    )
    w = Window.partitionBy("component").orderBy(*order)
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.min(F.when(F.col("_rn") == 1, F.col("id"))).alias("canonical_id"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
    )
