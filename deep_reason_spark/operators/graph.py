"""Graph materialization — nodes/edges tables in the GraphRAG-parquet shape
the reference consumes back (SURVEY.md §1.3; FIXTURES.md F6).

Columns mirror what deep-reason actually reads:
- entities: id/title/type/frequency/degree (``gen_agent/sampling.py:200-221``)
  + description (``:204``);
- relationships: source/target/description/weight/combined_degree/
  text_unit_ids (``gen_agent/sampling.py:280-289``).

Metrics are computed columns (SURVEY.md A9): degree = distinct neighbors,
frequency = mention count, combined_degree = deg(src)+deg(dst) — all
partial-aggregation-friendly groupBys. Description merging (A10) is the
deterministic analogue of the reference's LLM summarize-descriptions prompt
(``prompts/graphrag_prompts/index/summarize_descriptions.py:6-20``):
collect distinct predicates an entity participates in, sorted, concatenated.

Everything here is shuffle-minimal: one groupBy per metric, joins of
aggregate (small) tables back onto the edge list; AQE coalesces the
post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from deep_reason_spark.functions.names import longest_name

from deep_reason_spark.functions.broadcast import broadcast_hint

MAX_TEXT_UNITS = 100  # provenance sample cap per edge


def build_edges(canonical_triples: DataFrame,
                names: DataFrame | None = None) -> DataFrame:
    """(subject_canonical_id, predicate, object_canonical_id, provenance)
    → edges table (F6): one row per (source, target, predicate) with weight
    = supporting-triple count and a BOUNDED provenance sample.

    This is THE corpus-scale aggregation of the graph stage (measured 77%
    of its wall at 36M triples), so everything that crosses the shuffle is
    minimized:
    - provenance units travel as FIXED-WIDTH keys: ``text_unit_ids`` is
      ``array<bigint>`` of ``xxhash64(document_id, order_id)`` chunk keys
      (resolvable by hashing the chunk table the same way) — not ~50-byte
      strings (measured 2.1× faster end-to-end);
    - display names do NOT ride through the corpus shuffle: they join in
      AFTER aggregation from the vocabulary-scale ``names`` map
      (canonical_id → name; derived from the triples in one narrow pass
      when not supplied);
    - a window would shuffle + sort every supporting row and cannot
      map-side combine; instead level 1 keeps min(_tu) + count per
      (edge, hash-bucket) — ≤ ``MAX_TEXT_UNITS`` buckets, so combiners
      bound every task's output and a 10^7-mention hot edge costs bounded
      state — and level 2 folds the survivors into the provenance array
      while ``weight`` sums exact counts."""
    if names is None:
        names = (
            canonical_triples.select(F.col("src").alias("canonical_id"),
                                     F.col("subject_canonical").alias("name"))
            .unionByName(canonical_triples.select(
                F.col("dst").alias("canonical_id"),
                F.col("object_canonical").alias("name")))
            .groupBy("canonical_id")
            .agg(longest_name("name").alias("name"))
            # derived here → pinned here: the gate estimate + two joins
            # below must not re-scan the triples three times
            .localCheckpoint()
        )
    keyed = canonical_triples.select(
        "src", "dst", "predicate",
        F.xxhash64("document_id", "order_id").alias("_tu"),
    )
    level1 = keyed.groupBy(
        "src", "dst", "predicate",
        F.pmod(F.col("_tu"), F.lit(MAX_TEXT_UNITS)).alias("_b"),
    ).agg(
        F.count("*").alias("_n"),
        F.min("_tu").alias("_tu"),
    )
    agg = level1.groupBy("src", "dst", "predicate").agg(
        F.sum("_n").alias("weight_cnt"),
        F.array_sort(F.collect_set("_tu")).alias("text_unit_ids"),
    )
    return _finish_edges(agg, names)


def _finish_edges(agg: DataFrame, names: DataFrame | None) -> DataFrame:
    """Decorate an aggregated edge core (src, dst, predicate, weight_cnt,
    text_unit_ids) into the edges-table schema. ``names=None`` renders
    display strings from the canonical ids themselves (the coalesce
    fallback build_edges already had for unmapped ids)."""
    if names is not None:
        hint = broadcast_hint(names)
        named = (
            agg.join(hint(names.select(F.col("canonical_id").alias("src"),
                                       F.col("name").alias("_sname"))),
                     "src", "left")
            .join(hint(names.select(F.col("canonical_id").alias("dst"),
                                    F.col("name").alias("_tname"))),
                  "dst", "left")
        )
    else:
        named = agg.withColumn("_sname", F.lit(None).cast("string")) \
            .withColumn("_tname", F.lit(None).cast("string"))
    return named.select(
        F.md5(F.concat_ws("|", "src", "predicate", "dst")).alias("id"),
        F.concat_ws(" ", F.coalesce("_sname", F.col("src")), F.col("predicate"),
                    F.coalesce("_tname", F.col("dst"))).alias("human_readable_id"),
        F.col("src").alias("source"),
        F.col("dst").alias("target"),
        F.col("predicate").alias("description"),
        F.col("weight_cnt").cast("double").alias("weight"),
        "text_unit_ids",
    )


def _edge_core(edges: DataFrame) -> DataFrame:
    """Edges-table schema → the mergeable core (inverse of _finish_edges up
    to display decoration; Catalyst prunes the decoration joins away when
    only these five columns are consumed)."""
    return edges.select(
        F.col("source").alias("src"), F.col("target").alias("dst"),
        F.col("description").alias("predicate"),
        F.col("weight"), "text_unit_ids",
    )


def _remerge(core: DataFrame, names: DataFrame | None) -> DataFrame:
    """Re-aggregate an edge core whose keys may collide (rows from two
    merged tables, or rows re-keyed by a canonical relabel) — EXACTLY as a
    full ``build_edges`` recompute would, because both reductions are
    associative: ``weight`` sums, and the bounded provenance sample is
    min-per-hash-bucket where the bucket id is recoverable from the member
    itself (bucket = _tu mod MAX_TEXT_UNITS), so min-per-bucket over the
    union of per-part samples equals the full-corpus sample."""
    keys = ["src", "dst", "predicate"]
    w = core.groupBy(*keys).agg(
        F.sum("weight").cast("bigint").alias("weight_cnt"))
    tu = (
        core.select(*keys, F.explode("text_unit_ids").alias("_tu"))
        .groupBy(*keys, F.pmod(F.col("_tu"), F.lit(MAX_TEXT_UNITS)).alias("_b"))
        .agg(F.min("_tu").alias("_tu"))
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_set("_tu")).alias("text_unit_ids"))
    )
    return _finish_edges(w.join(tu, keys), names)


def merge_edge_tables(edges_a: DataFrame, edges_b: DataFrame,
                      names: DataFrame | None = None) -> DataFrame:
    """Exact associative merge of two ``build_edges`` outputs: the merged
    table equals ``build_edges`` over the concatenated triple sets (weights
    sum; provenance samples re-merge exactly — see ``_remerge``). This is
    the incremental-maintenance primitive: an update batch builds its own
    edge table from ONLY its new triples and folds it in — one edge-scale
    pass, zero rescans of historical triples (a deployment keys edge
    storage by (source, target, description) buckets so this pass is also
    shuffle-free)."""
    return _remerge(_edge_core(edges_a).unionByName(_edge_core(edges_b)),
                    names)


def _relabel_core(core: DataFrame, relabel_map: DataFrame) -> DataFrame:
    """Re-key an edge core through a (rep, final) canonical relabel — the
    delta map an incremental component merge emits. The map is batch-scale
    (only components TOUCHED by the update) so it rides the byte-gated
    broadcast; untouched edges pass through the coalesce unchanged."""
    from deep_reason_spark.functions.broadcast import broadcast_if_small

    gated = broadcast_if_small(relabel_map.select("rep", "final").distinct())
    return (
        core.join(gated.withColumnRenamed("rep", "src")
                  .withColumnRenamed("final", "_sf"), "src", "left")
        .join(gated.withColumnRenamed("rep", "dst")
              .withColumnRenamed("final", "_df"), "dst", "left")
        .select(
            F.coalesce("_sf", F.col("src")).alias("src"),
            F.coalesce("_df", F.col("dst")).alias("dst"),
            "predicate", "weight", "text_unit_ids",
        )
    )


def apply_relabel(edges: DataFrame, relabel_map: DataFrame,
                  names: DataFrame | None = None) -> DataFrame:
    """Re-key an edges table after a canonical-id relabel and re-aggregate
    the rows whose keys now collide (see ``_relabel_core``/``_remerge``)."""
    return _remerge(_relabel_core(_edge_core(edges), relabel_map), names)


_FINISHED_EDGE_COLS = ["id", "human_readable_id", "source", "target",
                       "description", "weight", "text_unit_ids"]


def incremental_edge_update(
    old_edges: DataFrame,
    new_canonical_triples: DataFrame,
    relabel_map: DataFrame | None = None,
    names: DataFrame | None = None,
    affected_ids: DataFrame | None = None,
    return_split: bool = False,
):
    """One-pass incremental maintenance of the edges table: re-key the old
    table by the component-merge relabel (if any), build the new batch's
    edge aggregate from ONLY its triples, and fold both through a single
    ``_remerge`` — so each update batch costs one corpus-pass over the NEW
    triples plus one edge-scale aggregation, never a rescan of historical
    triples (the reference re-feeds its whole ``current_graph`` per refine
    round, deep-reason ``kg_agent/chains.py:99-135``). Equals the full
    recompute exactly; pair with ``incremental_components(...,
    return_delta=True)`` for the relabel map.

    ``affected_ids`` (optional, single-column, batch-scale: every canonical
    id whose component label or display title may have changed this batch —
    relabel reps, relabel finals, and all batch entity ids) turns the fold
    into a ROUTED pass: a stored row is re-aggregated only when its key
    collides with a batch edge key or an endpoint is affected; every other
    stored row passes through AS STORED via a broadcast-probed linear scan
    — no shuffle, no provenance explode, no name re-join on the untouched
    bulk, which makes the per-batch cost O(batch + affected edge lists +
    one linear scan) instead of O(full edge-table re-aggregation). Exact:
    a key absent from the batch and the relabel map aggregates to itself,
    and its endpoints' titles are unchanged by construction of
    ``affected_ids``.

    ``return_split=True`` (requires ``affected_ids``) returns the pair
    ``(passthrough, merged_touched)`` instead of their union: the
    passthrough keeps EVERY column of ``old_edges`` (including storage
    partition columns like ``bucket`` and decorations like
    ``combined_degree``) so the caller can partition-prune the write and
    reuse stored per-row decorations that are valid exactly when both
    endpoints are unaffected."""
    fresh = _edge_core(build_edges(new_canonical_triples, names=names))
    if return_split and affected_ids is None:
        raise ValueError("return_split requires affected_ids")
    if affected_ids is None:
        core = _edge_core(old_edges)
        if relabel_map is not None:
            core = _relabel_core(core, relabel_map)
        return _remerge(core.unionByName(fresh), names)

    from deep_reason_spark.functions.broadcast import broadcast_if_small

    # the fresh aggregate feeds the byte-gated key probe AND the remerge —
    # pin it (batch-edge-scale) so the batch pass runs once, not per gate
    # estimate (CLAUDE.md: estimate_bytes is an action)
    fresh = fresh.localCheckpoint()
    aid = F.col(affected_ids.columns[0])
    orig_cols = list(old_edges.columns)
    old_f = old_edges if return_split \
        else old_edges.select(*_FINISHED_EDGE_COLS)
    marked = (
        old_f
        .join(broadcast_if_small(affected_ids.select(
            aid.alias("source"), F.lit(1).alias("_sa")).distinct()),
            "source", "left")
        .join(broadcast_if_small(affected_ids.select(
            aid.alias("target"), F.lit(1).alias("_ta")).distinct()),
            "target", "left")
        .join(broadcast_if_small(fresh.select(
            F.col("src").alias("source"), F.col("dst").alias("target"),
            F.col("predicate").alias("description"),
            F.lit(1).alias("_k")).distinct()),
            ["source", "target", "description"], "left")
    )
    is_touched = (F.col("_sa").isNotNull() | F.col("_ta").isNotNull()
                  | F.col("_k").isNotNull())
    keep = orig_cols if return_split else _FINISHED_EDGE_COLS
    passthrough = marked.where(~is_touched).select(*keep)
    core = _edge_core(marked.where(is_touched).select(*_FINISHED_EDGE_COLS))
    if relabel_map is not None:
        core = _relabel_core(core, relabel_map)
    merged = _remerge(core.unionByName(fresh), names)
    if return_split:
        return passthrough, merged
    return passthrough.unionByName(merged)


def degrees_from_edges(edges: DataFrame) -> DataFrame:
    """(node, deg): deg = distinct undirected neighbors — THE degree
    definition every consumer shares (``add_combined_degree``, the nodes
    table, and the incremental degree state)."""
    ends = edges.select(F.col("source").alias("node"), F.col("target").alias("other")) \
        .union(edges.select(F.col("target").alias("node"), F.col("source").alias("other")))
    return ends.distinct().groupBy("node").agg(F.count("*").alias("deg"))


def decorate_combined_degree(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Join a (node, deg) table onto both endpoints:
    combined_degree = deg(source) + deg(target). Exact whenever ``deg``
    equals ``degrees_from_edges`` over the full edge set ``edges`` came
    from."""
    return (
        edges.join(deg.withColumnRenamed("node", "source")
                      .withColumnRenamed("deg", "_sdeg"), "source")
        .join(deg.withColumnRenamed("node", "target")
                 .withColumnRenamed("deg", "_tdeg"), "target")
        .withColumn("combined_degree", (F.col("_sdeg") + F.col("_tdeg")).cast("bigint"))
        .drop("_sdeg", "_tdeg")
    )


def add_combined_degree(edges: DataFrame) -> DataFrame:
    """combined_degree = degree(source) + degree(target)
    (consumed at gen_agent/sampling.py:287)."""
    return decorate_combined_degree(edges, degrees_from_edges(edges))


def widen_degree_affected(old_edges: DataFrame, affected_ids: DataFrame,
                          relabel_map: DataFrame | None = None) -> DataFrame:
    """The DEGREE-affected id set D ⊇ affected_ids: a component merge
    (rep → final) changes the distinct-neighbor count of any node adjacent
    to the rep — the node loses ``rep`` and gains ``final``, and if it was
    already adjacent to ``final`` its degree DROPS — even though none of
    its own labels or titles changed. Routing the edge fold (and the
    combined_degree passthrough) on the bare affected set would therefore
    leave stale combined_degree on rows incident to such neighbors. D adds
    ``neighbors(reps)`` via one column-pruned broadcast-probed scan of the
    stored edges (reps are batch-scale). Neighbors of finals need no
    widening: an edge (w, final) keeps ``final`` as w's neighbor, and if w
    was also adjacent to the rep it is already in neighbors(reps)."""
    from deep_reason_spark.functions.broadcast import broadcast_if_small

    col = affected_ids.columns[0]
    if relabel_map is None:
        return affected_ids
    reps = broadcast_if_small(
        relabel_map.select(F.col("rep")).distinct().localCheckpoint())
    nb = (
        old_edges.join(reps.withColumnRenamed("rep", "source"), "source")
        .select(F.col("target").alias(col))
        .unionByName(
            old_edges.join(reps.withColumnRenamed("rep", "target"), "target")
            .select(F.col("source").alias(col)))
    )
    return affected_ids.unionByName(nb).distinct()


def incremental_degrees(old_degrees: DataFrame, touched_edges: DataFrame,
                        degree_affected: DataFrame) -> DataFrame:
    """Fold a routed edge update into the (node, deg) degree state:
    unaffected nodes pass through via one broadcast-probed anti-join
    (linear scan of the entity-scale state); nodes in the degree-affected
    set D recompute from ``touched_edges`` alone — exact because every
    edge incident to a node in D is routed into the touched set (the row's
    endpoint IS in the probe set), so the touched rows contain each
    affected node's COMPLETE edge list. Relabeled reps leave the state:
    they are in D (excluded from the passthrough) and no touched row names
    them after the relabel."""
    from deep_reason_spark.functions.broadcast import broadcast_if_small

    aff = broadcast_if_small(
        degree_affected.select(
            F.col(degree_affected.columns[0]).alias("node")).distinct())
    keep = old_degrees.join(aff, "node", "left_anti")
    rec = degrees_from_edges(touched_edges).join(aff, "node")
    return keep.unionByName(rec)


def combined_degree_from_state(edges: DataFrame, degrees: DataFrame) -> DataFrame:
    """Decorate a batch-scale edge frame with combined_degree from the
    (node, deg) state: the needed ids (the frame's endpoints) semi-join-
    probe the entity-scale state — one linear scan, batch-scale result —
    then ride a byte-gated broadcast into the two decoration joins. Row-
    equivalent to ``add_combined_degree`` whenever ``degrees`` equals
    ``degrees_from_edges`` over the full edge set."""
    from deep_reason_spark.functions.broadcast import broadcast_if_small

    need = (
        edges.select(F.col("source").alias("node"))
        .unionByName(edges.select(F.col("target").alias("node")))
        .distinct().localCheckpoint()
    )
    nd = broadcast_if_small(
        degrees.join(broadcast_if_small(need), "node").localCheckpoint())
    return (
        edges.join(nd.withColumnRenamed("node", "source")
                     .withColumnRenamed("deg", "_sdeg"), "source")
        .join(nd.withColumnRenamed("node", "target")
                .withColumnRenamed("deg", "_tdeg"), "target")
        .withColumn("combined_degree",
                    (F.col("_sdeg") + F.col("_tdeg")).cast("bigint"))
        .drop("_sdeg", "_tdeg")
    )


def build_nodes(canonical_triples: DataFrame, entity_types: DataFrame | None = None) -> DataFrame:
    """nodes table (F6): id/title/type/description/frequency/degree.

    - title: the longest canonical surface (most complete identifier);
    - type: from an optional (canonical_id, type) table, else 'entity';
    - description: sorted distinct predicates the entity participates in
      (deterministic A10 summarization);
    - frequency: total mentions; degree: distinct neighbors.
    """
    as_subject = canonical_triples.select(
        F.col("src").alias("id"), F.col("subject_canonical").alias("name"),
        F.col("predicate"), F.col("dst").alias("nbr"),
    )
    as_object = canonical_triples.select(
        F.col("dst").alias("id"), F.col("object_canonical").alias("name"),
        F.col("predicate"), F.col("src").alias("nbr"),
    )
    both = as_subject.unionByName(as_object)
    nodes = both.groupBy("id").agg(
        longest_name("name").alias("title"),
        # collect_set, not collect_list: map-side partial aggregation keeps
        # the per-group state at |distinct predicates|, not |rows| — a hub
        # entity with 10^7 mentions must not buffer 10^7 strings
        F.concat_ws("; ", F.array_sort(F.collect_set("predicate")))
            .alias("description"),
        F.count("*").alias("frequency"),
        F.count_distinct("nbr").alias("degree"),
    )
    if entity_types is not None:
        nodes = nodes.join(
            broadcast_hint(entity_types)(
                entity_types.select(F.col("canonical_id").alias("id"), "type")),
            "id", "left",
        ).withColumn("type", F.coalesce("type", F.lit("entity")))
    else:
        nodes = nodes.withColumn("type", F.lit("entity"))
    return nodes.select("id", "title", "type", "description", "frequency", "degree")


def build_nodes_from_edges(
    edge_agg: DataFrame,
    titles: DataFrame,
    entity_types: DataFrame | None = None,
) -> DataFrame:
    """Edge-scale node build — same output as ``build_nodes`` without any
    corpus-scale pass: frequency = Σ adjacent edge weights (each supporting
    triple counts once per side), degree = distinct neighbors, description =
    distinct adjacent predicates; titles come from the (canonical_id, title)
    map (``titles``: the longest canonical surface per entity)."""
    ends = edge_agg.select(
        F.col("source").alias("id"), F.col("target").alias("nbr"),
        "weight", "description",
    ).unionByName(edge_agg.select(
        F.col("target").alias("id"), F.col("source").alias("nbr"),
        "weight", "description",
    ))
    per_node = ends.groupBy("id").agg(
        F.sum("weight").cast("bigint").alias("frequency"),
        F.count_distinct("nbr").alias("degree"),
        F.concat_ws("; ", F.array_sort(F.collect_set("description")))
        .alias("description"),
    )
    nodes = per_node.join(
        broadcast_hint(titles)(
            titles.select(F.col("canonical_id").alias("id"), "title")),
        "id", "left")
    nodes = nodes.withColumn("title", F.coalesce("title", F.col("id")))
    if entity_types is not None:
        nodes = nodes.join(
            broadcast_hint(entity_types)(
                entity_types.select(F.col("canonical_id").alias("id"), "type")),
            "id", "left",
        ).withColumn("type", F.coalesce("type", F.lit("entity")))
    else:
        nodes = nodes.withColumn("type", F.lit("entity"))
    return nodes.select("id", "title", "type", "description", "frequency", "degree")
