"""Catalog extension: two operators a large-scale training-data
pipeline needs and no other registered query covers:

* ``p_cluster_safe_split`` — LEAKAGE-SAFE train/val split: near-dup
  CLUSTERS move between splits as a unit, so a validation document can
  never be a near-copy of a training document (the contamination mode a
  per-document hash split cannot prevent — standard practice in LLM
  corpus construction, cf. the dedup/decontamination methodology in
  Lee et al. '21 "Deduplicating Training Data Makes Language Models
  Better").
* ``er_entity_clusters`` — ENTITY RESOLUTION: blocked edit-distance
  matching over distinct names -> connected components -> one canonical
  record per entity.  The classic master-data ETL op; the reference's
  whole inspector pipeline is a manual version of this (canonicalize
  names, collapse spelling variants — populate_db_ru_v1.py's
  standardize_text + dictionary passes), re-expressed as a general
  distributed operator.

Same determinism discipline as plans.catalog: exact integer arithmetic
(md5-derived hash buckets, integer Levenshtein DP), no floats anywhere
near a hash boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    assign_components,
    ngram_cluster_assignments,
    portable_hash60_sql,
)
from ..operators.sampling import hash_split
from ..sources.tables import load_table


# ---------------------------------------------------------------------------
# P-CSS: cluster-safe (leakage-safe) train/val split
# ---------------------------------------------------------------------------


def q_p_cluster_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe 90/10 train/val split: the split decision hashes the
    near-dup CLUSTER id, not the document, so every document in a
    near-duplicate cluster lands on the same side — a val doc can never
    be a near-copy of a train doc.  A plain per-doc hash split
    (p_hash_split) leaks: two 95%-identical documents hash
    independently and straddle the boundary ~2·p·(1-p) of the time.

    Plan: ``ngram_cluster_assignments`` (exact-dup collapse ->
    distinct-text Jaccard pairs -> min-label components, the same
    verified machinery as d_dedup_clusters) + a zero-shuffle hash
    decision on the component id.  100 TB posture: the closure's pair
    work tracks DISTINCT texts (r10 measurement: 1.04x under 10x
    verbatim replication); the split itself adds NO shuffle — one
    md5 per row, monotone with the cluster assignment's output
    partitioning.  Determinism: membership is an integer comparison on
    an md5-derived bucket (operators.sampling.hash_bucket), replayed
    bit-identically by the oracle.
    """
    d = load_table(spark, sf, "documents").select("doc_id", "text")
    comp = ngram_cluster_assignments(d, "doc_id", "text", k=3, threshold=0.5)
    return (
        hash_split(
            comp.withColumn("_ck", F.col("component_id").cast("string")),
            "_ck",
            {"train": 0.9, "val": 0.1},
        )
        .select("doc_id", "component_id", "split")
    )


# Closure CTE shared in form with plans.catalog.O_D_CLUSTERS (same
# shingling, same threshold, same min-label recursion) + the hash-split
# CASE from O_P_HASH_SPLIT, keyed on the COMPONENT id.
O_P_CLUSTER_SAFE_SPLIT = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS sh
  FROM toks, UNNEST(range(1, greatest(len(w) - 2, 1) + 1)) AS t(i)
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), walk(node, label) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, w.label FROM edges e JOIN walk w ON w.node = e.v
), comp AS (
  SELECT node, min(label) AS component FROM walk GROUP BY node
), assigned AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)
SELECT doc_id, component_id,
       CASE WHEN {portable_hash60_sql("CAST(component_id AS VARCHAR)")} % 10000 < 9000
            THEN 'train' ELSE 'val' END AS split
FROM assigned
"""


# ---------------------------------------------------------------------------
# ER: entity resolution — fuzzy clusters with one canonical record
# ---------------------------------------------------------------------------

_ER_MAX_DIST = 2  # same policy knob as catalog_ext._FUZZY_MAX_DIST (j12)


def q_er_entity_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution over the part catalog: spelling variants of the
    same product name (edit distance <= 2 within a (brand, name-length)
    block — j12's blocking policy) collapse to ONE entity with exactly
    one canonical record (the min part key).  j12 emits the fuzzy PAIRS;
    this is the missing last mile — transitive closure over them plus
    the keep/canonicalize decision, i.e. the master-data dedup every
    warehouse load runs on its dimension feeds.

    Scale shape (the j12 + d_dedup_clusters disciplines composed):

    * Levenshtein runs once per DISTINCT (brand, name) pair inside a
      block — never per record pair (duplicate-density guard: m copies
      per name cut the O(|s|^2) DP calls by m^2).
    * The closure runs over NAME-grain nodes (node id = min part key of
      the exact-name group, so labels are already part keys), min-label
      propagation with the large-star fallback (operators.dedup.
      assign_components) — O(log^2 n) rounds worst case.
    * Records attach to their name-node by one equi-join; the entity id
      (min node label = min part key in the entity) and the canonical
      flag (key == entity id) are then columnar.

    The oracle replays the identical blocking, integer Levenshtein DP,
    and min-label closure, so clustering AND canonical choice are
    value-checked."""
    p = load_table(spark, sf, "part").select("p_partkey", "p_name", "p_brand")
    rep = p.groupBy("p_brand", "p_name").agg(F.min("p_partkey").alias("nid"))
    ra, rb = rep.alias("ra"), rep.alias("rb")
    pairs = (
        ra.join(
            rb,
            (F.col("ra.p_brand") == F.col("rb.p_brand"))
            & (F.length(F.col("ra.p_name")) == F.length(F.col("rb.p_name")))
            & (F.col("ra.p_name") < F.col("rb.p_name")),
        )
        .filter(
            F.levenshtein(F.col("ra.p_name"), F.col("rb.p_name")) <= _ER_MAX_DIST
        )
        .select(F.col("ra.nid").alias("id_a"), F.col("rb.nid").alias("id_b"))
    )
    comp = assign_components(rep.select(F.col("nid").alias("doc_id")), pairs, "doc_id").select(
        F.col("doc_id").alias("nid"), F.col("component_id").alias("entity_id")
    )
    return (
        p.join(rep, ["p_brand", "p_name"])
        .join(comp, "nid")
        .select(
            "p_partkey",
            "entity_id",
            (F.col("p_partkey") == F.col("entity_id")).alias("is_canonical"),
        )
    )


O_ER_ENTITY_CLUSTERS = f"""
WITH RECURSIVE rep AS (
  SELECT p_brand, p_name, min(p_partkey) AS nid FROM part GROUP BY 1, 2
), pairs AS MATERIALIZED (
  SELECT ra.nid AS id_a, rb.nid AS id_b
  FROM rep ra JOIN rep rb
    ON ra.p_brand = rb.p_brand
   AND length(ra.p_name) = length(rb.p_name)
   AND ra.p_name < rb.p_name
  WHERE levenshtein(ra.p_name, rb.p_name) <= {_ER_MAX_DIST}
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), walk(node, label) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, w.label FROM edges e JOIN walk w ON w.node = e.v
), comp AS (
  SELECT node, min(label) AS component FROM walk GROUP BY node
)
SELECT p.p_partkey,
       coalesce(c.component, r.nid) AS entity_id,
       p.p_partkey = coalesce(c.component, r.nid) AS is_canonical
FROM part p
JOIN rep r ON r.p_brand = p.p_brand AND r.p_name = p.p_name
LEFT JOIN comp c ON c.node = r.nid
"""


REGISTRY = {
    "p_cluster_safe_split": (q_p_cluster_safe_split, O_P_CLUSTER_SAFE_SPLIT),
    "er_entity_clusters": (q_er_entity_clusters, O_ER_ENTITY_CLUSTERS),
}
