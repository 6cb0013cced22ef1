"""Entity linking — broadcast alias-dictionary hash join + candidate scoring.

Reference semantics reproduced (SURVEY.md §2.3 J1/J5):
- case-insensitive lookup of a surface form against a dictionary keyed on
  ``lower(title)`` with *first match wins* and a default row on miss
  (deep-reason ``gen_agent/sampling.py:175-223``, empty-default at
  ``:216-222``);
- the "most complete identifier" consistency contract
  (``prompts/kg_prompts.py:25,42``) generalized to mention→entity linking.

Spark-first design (shuffle-free on the fact side):
- ambiguous aliases are resolved ONCE on the dictionary side (a window over
  the broadcast-scale table), so the corpus-scale side needs exactly one
  broadcast hash join and never shuffles — at 10^12 files this is the only
  linking plan that survives;
- per-row confidence (prior + surface/canonical affinity) is one Catalyst
  expression, evaluated post-join with no repartitioning and no Python
  worker;
- misses keep the row with a deterministic fallback id (md5 of the
  normalized surface), mirroring the reference's empty-default row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deep_reason_spark.functions.broadcast import broadcast_if_small


def link_score_col(mention, canonical, prior):
    """Candidate confidence = dictionary prior + surface-form affinity.

    Exact (case-insensitive) match of the canonical name scores 1.0; a
    mention that is a prefix of the canonical (the alias case) scores by
    covered length. A JVM-native expression, so neither dictionary prep nor
    mention linking spins up Python workers."""
    m = F.lower(mention)
    c = F.lower(canonical)
    exact = F.when(m == c, F.lit(1.0)).otherwise(F.lit(0.0))
    prefix = (
        F.when(
            (F.length(m) > 0) & c.startswith(m),
            F.length(m).cast("double") / F.greatest(F.length(c), F.lit(1)).cast("double"),
        ).otherwise(F.lit(0.0))
    )
    affinity = F.when(exact == 1.0, F.lit(1.0)).otherwise(prefix)
    return F.coalesce(prior.cast("double"), F.lit(0.0)) + affinity


def resolve_alias_dict(alias_dict: DataFrame) -> DataFrame:
    """Collapse the dictionary to one best candidate per normalized key.

    "First match wins" made deterministic: highest
    (prior + affinity(alias, canonical)), then smallest entity_id. The
    window runs over the dictionary (broadcast-scale), never the corpus."""
    keyed = alias_dict.select(
        F.lower(F.col("alias")).alias("_k"),
        "alias", "entity_id", "canonical_name", "prior",
    ).withColumn(
        "_s", link_score_col(F.col("alias"), F.col("canonical_name"), F.col("prior"))
    )
    w = Window.partitionBy("_k").orderBy(F.desc("_s"), F.asc("entity_id"))
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("_k", "entity_id", "canonical_name", "prior")
    )


def link_mentions(
    mentions: DataFrame,
    alias_dict: DataFrame,
    mention_col: str = "mention",
) -> DataFrame:
    """mentions ⋈ broadcast(resolved dict) → entity per mention row.

    Adds ``entity_id``, ``canonical_name``, ``link_score``, ``linked``
    (false on miss → deterministic fallback identity entity). The plan is a
    single BroadcastHashJoin + projections: zero shuffles of the big side.

    The dictionary is an input contract (alias dictionaries are curated,
    not corpus-derived) but its size is still a deployment knob — it rides
    the shared byte gate (pinned first so the gate's estimate job scans a
    materialized frame, not the resolve window's subplan); an oversized
    dictionary falls back to an AQE-managed shuffle join (VERDICT r4 #1)."""
    resolved = resolve_alias_dict(alias_dict).localCheckpoint()
    joined = mentions.withColumn("_k", F.lower(F.col(mention_col))).join(
        broadcast_if_small(resolved), on="_k", how="left"
    )
    return joined.select(
        *mentions.columns,
        F.coalesce(
            F.col("entity_id"),
            F.concat(F.lit("unk-"), F.md5(F.lower(F.col(mention_col)))),
        ).alias("entity_id"),
        F.coalesce("canonical_name", F.col(mention_col)).alias("canonical_name"),
        link_score_col(F.col(mention_col), F.col("canonical_name"),
                       F.col("prior")).alias("link_score"),
        F.col("canonical_name").isNotNull().alias("linked"),
    )


def build_surface_map(triples: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """(surface → entity_id, canonical_name, linked) over the DISTINCT
    subject/object surfaces of a triples table.

    The entity side of the pipeline is vocabulary-scale, not corpus-scale:
    one narrow distinct over two string columns, then the broadcast dict
    join — every downstream entity computation (canonicalization, typing,
    ontology) runs on this map instead of rescanning wide triple rows."""
    # explode, not union: ONE pass over the triples table (a union of two
    # selects scans the source twice)
    surfaces = (
        triples.select(
            F.explode(F.array("subject", "object")).alias("surface")
        ).distinct()
    )
    resolved = resolve_alias_dict(alias_dict).localCheckpoint()
    joined = surfaces.withColumn("_k", F.lower(F.col("surface"))).join(
        broadcast_if_small(resolved), on="_k", how="left"
    )
    return joined.select(
        "surface",
        F.coalesce(
            F.col("entity_id"), F.concat(F.lit("unk-"), F.md5(F.col("_k")))
        ).alias("entity_id"),
        F.coalesce("canonical_name", F.col("surface")).alias("canonical_name"),
        F.col("canonical_name").isNotNull().alias("linked"),
    )


def link_triples(triples: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Link subject and object of every triple: two byte-gated broadcast
    joins against the resolved dictionary — while the dictionary is
    broadcast-sized the triples table never shuffles; past the gate AQE
    plans (and skew-splits) a shuffle join instead of OOMing executors.

    Adds subject_id/subject_canonical/object_id/object_canonical (+ linked
    flags); unknown surfaces get deterministic ``unk-<md5>`` ids so
    downstream canonicalization still sees them as nodes."""
    # materialize the resolved dict once (dictionary-scale) so the two
    # broadcast builds below don't each re-execute its plan
    resolved = resolve_alias_dict(alias_dict).localCheckpoint()

    def side(col: str) -> DataFrame:
        suffixed = resolved.select(
            F.col("_k").alias(f"_k_{col}"),
            F.col("entity_id").alias(f"{col}_entity"),
            F.col("canonical_name").alias(f"{col}_canon"),
        )
        return suffixed

    out = (
        triples
        .withColumn("_k_subject", F.lower(F.col("subject")))
        .withColumn("_k_object", F.lower(F.col("object")))
        .join(broadcast_if_small(side("subject")), on="_k_subject", how="left")
        .join(broadcast_if_small(side("object")), on="_k_object", how="left")
    )
    return out.select(
        *triples.columns,
        F.coalesce(F.col("subject_entity"),
                   F.concat(F.lit("unk-"), F.md5(F.col("_k_subject")))).alias("subject_id"),
        F.coalesce("subject_canon", F.col("subject")).alias("subject_canonical"),
        F.col("subject_canon").isNotNull().alias("subject_linked"),
        F.coalesce(F.col("object_entity"),
                   F.concat(F.lit("unk-"), F.md5(F.col("_k_object")))).alias("object_id"),
        F.coalesce("object_canon", F.col("object")).alias("object_canonical"),
        F.col("object_canon").isNotNull().alias("object_linked"),
    )
