package graft.canon

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.RelationPatterns

/** Canonical merge + endpoint rewrite — the distributed re-expression of
  * the reference's entity-group merge (entity_deduplication.py:641-704,
  * consolidation.py:268-363): canonical entity = the group representative
  * (deterministically min(entity_id), SURVEY §7.4.3); merged node gets
  * mention_count summed, first_seen min, last_seen max, and the merge
  * lineage column merged_entity_ids (consolidation.py:296-304); mention and
  * relationship endpoints are repointed to the canonical entity and edges
  * re-deduplicated under the reference's edge key.
  */
object Canonicalize {

  /** Build canonical node table.
    * @param entities (entity_id, name, entity_type, mention_count,
    *                 first_seen, last_seen)
    * @param components (id, component) from ConnectedComponents (vertices
    *                   that appear in at least one duplicate pair)
    * @return nodes with canonical identity + merge lineage.
    */
  def nodes(entities: DataFrame, components: DataFrame): DataFrame = {
    val withComp = entities
      .join(components, entities("entity_id") === components("id"), "left")
      .withColumn("component", coalesce(col("component"), col("entity_id")))
      .drop("id")
    withComp
      .groupBy(col("component"))
      .agg(
        // component = min entity_id, so min(struct) picks the canonical row
        min(struct(col("entity_id"), col("name"), col("entity_type")))
          .as("canon"),
        sum(col("mention_count")).as("mention_count"),
        min(col("first_seen")).as("first_seen"),
        max(col("last_seen")).as("last_seen"),
        array_sort(collect_list(when(col("entity_id") =!= col("component"),
          col("entity_id")))).as("merged_entity_ids"))
      .select(
        col("canon.entity_id").as("entity_id"),
        col("canon.name").as("name"),
        col("canon.entity_type").as("entity_type"),
        col("first_seen"), col("last_seen"), col("mention_count"),
        col("merged_entity_ids"))
  }

  /** Mapping (name, entity_type) -> (canonical_name, canonical_id) for
    * endpoint rewrite, restricted to MERGED members only (entity_id !=
    * canonical_id): the rewrite joins are left joins with a
    * coalesce(canonical, original) fallback, so identity rows add nothing —
    * and at 10^12-doc scale the full entity table is billions of rows while
    * the merged subset is orders of magnitude smaller, which keeps the
    * broadcast in rewriteTriples/rewriteMentions honest.
    *
    * Returned DRIVER-LOCAL (collected into a LocalRelation): both rewrites
    * broadcast it, so it is already bounded by driver memory, and the
    * rewrites reference it five times — as a lazy frame each reference
    * re-printed the entity/mention/chunk lineage into every downstream
    * plan (measured on a 3000-doc synthetic corpus: the extended explain
    * string of edges 354k → 53k characters, mentions_final 811k → 56k).
    * The collect runs here, once.
    */
  def mapping(entities: DataFrame, components: DataFrame): DataFrame = {
    // components only contains vertices of duplicate pairs, so the inner
    // join already drops never-merged entities; the filter then drops the
    // canonical representatives themselves.
    val comp = entities
      .join(components, entities("entity_id") === components("id"), "inner")
      .select(col("entity_id"), col("name"), col("entity_type"), col("component"))
    val canonNames = entities
      .join(components.where(col("id") === col("component")),
        entities("entity_id") === components("id"), "inner")
      .select(col("component").as("c2"), col("name").as("canonical_name"))
    val merged = comp.where(col("entity_id") =!= col("component"))
      .join(canonNames, col("component") === col("c2"))
      .select(col("name"), col("entity_type"),
        col("canonical_name"), col("component").as("canonical_id"))
    entities.sparkSession.createDataFrame(
      java.util.Arrays.asList(merged.collect(): _*), merged.schema)
  }

  /** Repoint triple endpoints to canonical names and re-dedup edges under
    * the reference edge key (relation_extractor.py:430-467). The mapping
    * side is orders of magnitude smaller than the triple set — broadcast.
    */
  def rewriteTriples(spark: SparkSession, triples: DataFrame,
      mapping: DataFrame): DataFrame = {
    import graft.core.Schema.TripleRow
    val m = broadcast(mapping)
    val subjMap = m.select(col("name").as("s_name"), col("entity_type").as("s_t"),
      col("canonical_name").as("s_canon"))
    val objMap = m.select(col("name").as("o_name"), col("entity_type").as("o_t"),
      col("canonical_name").as("o_canon"))
    val renamed = triples
      .join(subjMap, triples("subj") === col("s_name") &&
        triples("subj_type") === col("s_t"), "left")
      .join(objMap, triples("obj") === col("o_name") &&
        triples("obj_type") === col("o_t"), "left")
      .withColumn("subj", coalesce(col("s_canon"), col("subj")))
      .withColumn("obj", coalesce(col("o_canon"), col("obj")))
      .drop("s_name", "s_t", "s_canon", "o_name", "o_t", "o_canon")
      .where(col("subj") =!= col("obj")) // merged endpoints may collapse
    import spark.implicits._
    RelationPatterns.dedup(renamed.as[TripleRow])
  }

  /** Repoint mention endpoints to canonical names, preserving per-chunk
    * mention grain (graph/operations.py:358-370 repoints MENTIONS edges).
    *
    * The mention table is the pipeline's BIGGEST frame (one row per
    * (chunk, name, type), each dragging a 200-char context), and the
    * merge aggregate below almost exclusively re-emits singletons: the
    * per-chunk grain is already unique by (name, type) upstream
    * (GazetteerNer.mentionsOf), so a group can only exceed one row when a
    * REWRITE collides two names inside one chunk. A row can be rewritten
    * only when its name is a mapping source, and can be collided WITH only
    * when its name is a rewrite target — so rows whose (name, type) appear
    * nowhere in the mapping's name universe pass through untouched on a
    * NARROW path (their one-row aggregate is the identity projection; the
    * sum() widening to long is applied explicitly). Only the
    * mapping-universe rows — proportional to merged-entity mentions, not
    * the corpus — take the shuffle+aggregate. Measured at the scaling
    * scale (150k docs, 1 core): 32.1 s → 20.3 s for the mentions_final
    * stage (the residue is the two branch scans of the mention cache).
    * The name-universe table is 2 rows per merged member, the same
    * broadcast budget as the mapping itself.
    */
  def rewriteMentions(mentions: DataFrame, mapping: DataFrame): DataFrame = {
    val suspicious = broadcast(
      mapping.select(col("name").as("entity_name"), col("entity_type"))
        .union(mapping.select(col("canonical_name").as("entity_name"),
          col("entity_type")))
        .distinct())
    val pass = mentions
      .join(suspicious, Seq("entity_name", "entity_type"), "left_anti")
      .select(col("chunk_id"), col("doc_id"), col("entity_name"),
        col("entity_type"), col("position"),
        col("mention_count").cast("long").as("mention_count"),
        col("confidence"), col("context"), col("valid_from"))
    val hit = mentions
      .join(suspicious, Seq("entity_name", "entity_type"), "left_semi")
    val m = broadcast(mapping.select(col("name").as("m_name"),
      col("entity_type").as("m_t"), col("canonical_name")))
    val merged = hit
      .join(m, hit("entity_name") === col("m_name") &&
        hit("entity_type") === col("m_t"), "left")
      .withColumn("entity_name", coalesce(col("canonical_name"), col("entity_name")))
      .drop("m_name", "m_t", "canonical_name")
      .groupBy(col("chunk_id"), col("doc_id"), col("entity_name"), col("entity_type"))
      .agg(
        min(col("position")).as("position"),
        sum(col("mention_count")).as("mention_count"),
        max(col("confidence")).as("confidence"),
        min(col("context")).as("context"),
        min(col("valid_from")).as("valid_from"))
    pass.unionByName(merged)
  }
}
