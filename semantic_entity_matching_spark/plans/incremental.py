"""The day-2 production loop: fold a batch of new pages into an existing
clustered corpus WITHOUT re-running the flagship pipeline over the
corpus history.

A 10^12-page corpus is not re-clustered nightly; each crawl delta is.
``run_incremental`` composes the incremental operators end-to-end:

1. **new-vs-reference edges** — the new batch blocks and scores against
   the previous corpus through
   :func:`~semantic_entity_matching_spark.streaming.incremental_match.match_edges`
   (EVERY qualifying edge, not best-per-page: a new page bridging two old
   components is merge evidence best-only would drop);
2. **new-vs-new edges** — the flagship pipeline runs on the delta alone
   (:func:`~semantic_entity_matching_spark.plans.pipeline.run_pipeline`);
3. **cluster maintenance** —
   :func:`~semantic_entity_matching_spark.operators.cluster.update_components`
   folds both edge sets into the previous ``(id, component)`` assignment,
   provably equal to re-running CC over the full edge history;
4. **identity persistence** — optionally,
   :func:`~semantic_entity_matching_spark.operators.resolve.stable_entity_ids`
   carries the previous run's entity ids onto the updated clustering.

Exactness: features and score cutoffs are PER-DOC or PER-PAIR, and so
are most block keys, but NOT all of them.  Two things depend on the whole
population:

* block caps — a capped hot block drops pairs population-dependently (at
  production scale caps are an explicit recall trade either way — audit
  via ``blocks_dropped``);
* the sorted-neighbourhood window keys ``sn:<bucket>:<rank/window>``
  (operators/blocking.py ``sorted_neighborhood_keys``) — a doc's rank, and
  so its window, shifts with every doc sorted before it.

Where neither binds, the candidate/edge set over day1 ∪ day2 decomposes
into (old-old: already inside the previous components) ∪ (new-vs-ref) ∪
(new-vs-new), and the incremental clustering equals a from-scratch
``run_pipeline`` over the union (pytest-pinned on fixtures where it
holds).  It does NOT hold in general: a day-2 page whose only key shared
with its day-1 match is a window key is linked by the from-scratch run
and missed by the fold.  Measured at 3,000 seeded pages (perfbench
``incremental_fold``), seeds 2, 3, 4 and 6 lose 1-2 pages each; seed 5
does not.  This is a known, open defect of the fold.

Wall-clock scales with the DELTA (delta², really, bounded by blocking)
plus one semi/anti-join pass over the previous assignment — never with
the corpus edge history.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from semantic_entity_matching_spark.operators.cluster import update_components
from semantic_entity_matching_spark.plans.pipeline import (
    MatchConfig,
    run_pipeline,
)
from semantic_entity_matching_spark.streaming.incremental_match import (
    ReferenceIndex,
    match_edges,
)


@dataclass
class IncrementalResult:
    clusters: DataFrame          # (id, component) over old ∪ new ids
    entities: DataFrame | None   # (id, entity_id) when prev_entities given
    counters: dict


def run_incremental(
    prev_pages: DataFrame,
    prev_clusters: DataFrame,
    new_pages: DataFrame,
    config: MatchConfig | None = None,
    provider=None,
    prev_entities: DataFrame | None = None,
    index: ReferenceIndex | None = None,
) -> IncrementalResult:
    """Fold ``new_pages`` into the clustering ``prev_clusters`` (an
    ``(id, component)`` assignment over ``prev_pages``); see module
    docstring.  ``prev_entities`` — the previous ``(id, entity_id)``
    map — additionally produces a stable-entity-id assignment for the
    updated clustering.

    ``index``: a prebuilt :class:`ReferenceIndex` over ``prev_pages``.
    In production this is YESTERDAY'S persisted artifact (features +
    block keys written by the previous run) — pass it and the delta fold
    never recomputes a single reference embedding; without it the index
    is built (and unpersisted) here, which re-embeds the reference
    corpus and erases most of the delta-cost advantage."""
    cfg = config or MatchConfig()
    id_col = cfg.id_col

    own_index = index is None
    if own_index:
        index = ReferenceIndex(prev_pages, cfg, provider)
    try:
        # lineage cut: the cross-edge set feeds both the CC delta and a
        # counter job — don't score the batch twice
        cross = (
            match_edges(new_pages, index)
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )
        intra_res = run_pipeline(new_pages, cfg, provider=provider)
        intra = intra_res.edges.select("id_a", "id_b")
        delta = cross.unionByName(intra)
        new_ids = new_pages.select(F.col(id_col).alias("id"))
        assignments = update_components(
            prev_clusters, delta, new_ids=new_ids
        )
    finally:
        if own_index:
            index.unpersist()

    counters = dict(intra_res.counters)
    counters["incremental_cross_edges"] = cross.count()
    counters["incremental_intra_edges"] = intra.count()

    entities = None
    if prev_entities is not None:
        from semantic_entity_matching_spark.operators.resolve import (
            stable_entity_ids,
        )

        entities = stable_entity_ids(
            prev_entities, assignments, id_col="id",
            cluster_col="component",
        )
    return IncrementalResult(
        clusters=assignments, entities=entities, counters=counters
    )
