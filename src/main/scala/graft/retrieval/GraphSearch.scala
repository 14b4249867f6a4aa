package graft.retrieval

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-side retrieval (reference retrieval/graph_search.py,
  * graph/queries.py) over the engine's mention and edge tables.
  *
  * Inputs everywhere:
  *   mentions: (chunk_id, doc_id, entity_name, entity_type, position,
  *              mention_count, confidence, ...)
  *   edges:    (subj, pred, obj, ...) — canonical RELATES_TO triples.
  *
  * Every operator is a bounded sequence of joins + one aggregation; entity
  * name lists are tiny and broadcast. At 100 TB the mentions table is
  * bucketed by chunk_id, so the self-joins co-locate without a shuffle.
  */
object GraphSearch {

  /** ANY-match entity search (graph_search.py:136-165): chunks mentioning
    * any of `names`; score = matched / |names|, ordered score desc.
    */
  def searchByEntitiesAny(spark: SparkSession, mentions: DataFrame,
      names: Seq[String], topK: Int = 10): DataFrame = {
    import spark.implicits._
    val wanted = broadcast(names.map(_.toLowerCase).toDF("wanted_name"))
    mentions
      .join(wanted, lower(col("entity_name")) === col("wanted_name"))
      .groupBy(col("chunk_id"))
      .agg(countDistinct(col("wanted_name")).as("matched"))
      .withColumn("score", col("matched").cast("double") / lit(names.size))
      .orderBy(col("score").desc, col("chunk_id").asc)
      .limit(topK)
  }

  /** ALL-match (relational division, graph_search.py:104-134): chunks whose
    * matched set covers every queried name; score 1.0.
    */
  def searchByEntitiesAll(spark: SparkSession, mentions: DataFrame,
      names: Seq[String], topK: Int = 10): DataFrame = {
    import spark.implicits._
    val wanted = broadcast(names.map(_.toLowerCase).toDF("wanted_name"))
    mentions
      .join(wanted, lower(col("entity_name")) === col("wanted_name"))
      .groupBy(col("chunk_id"))
      .agg(countDistinct(col("wanted_name")).as("matched"))
      .where(col("matched") === names.size)
      .withColumn("score", lit(1.0))
      .orderBy(col("chunk_id").asc)
      .limit(topK)
  }

  /** Chunks mentioning entities of a type, score = entity count
    * (graph_search.py:181-240).
    */
  def searchByEntityType(mentions: DataFrame, entityType: String,
      topK: Int = 10): DataFrame =
    mentions.where(col("entity_type") === entityType)
      .groupBy(col("chunk_id"))
      .agg(countDistinct(col("entity_name")).as("score"))
      .orderBy(col("score").desc, col("chunk_id").asc)
      .limit(topK)

  /** Undirected (src,dst) pairs from the canonical edge table: both
    * orientations, self-loops dropped on the RAW names (so "Acme" → "ACME"
    * stays). A narrow view — no distinct: callers first restrict it to a
    * broadcast frontier or vertex set and deduplicate only what survives.
    */
  def undirected(edges: DataFrame): DataFrame = {
    val fwd = edges.select(col("subj").as("src"), col("obj").as("dst"))
    fwd.union(edges.select(col("obj").as("src"), col("subj").as("dst")))
      .where(col("src") =!= col("dst"))
  }

  /** Breadth-first frontier expansion over `undirected(edges)` from
    * `seeds`, matching names case-insensitively. Element d-1 is hop d: the
    * (raw dst, lowercase key) pairs whose key no earlier hop (nor a seed)
    * reached — distinct raw spellings of one key reached at the same hop
    * all stay. The iterator ends once a hop reaches nothing new.
    *
    * Each hop is one driver round-trip: the previous hop's keys ship as a
    * broadcast LocalRelation, only the matched rows are deduplicated, and
    * the new frontier comes back to the driver — so no hop re-evaluates
    * the hops before it, no graph-wide table is built, and nothing is
    * cached past the call. The frontier is seed-neighbourhood-bounded
    * (callers take at most 3 hops).
    */
  def frontiers(edges: DataFrame, seeds: Set[String]): Iterator[Seq[(String, String)]] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val und = undirected(edges)
    // lowercased by Spark (a local projection, no job) so seed keys and
    // edge keys share one case mapping
    val start = seeds.toSeq.toDF("name").select(lower(col("name"))).collect()
      .map(_.getString(0)).toSet
    Iterator.unfold((start, start)) { case (seen, frontier) =>
      if (frontier.isEmpty) None
      else {
        val hop = und
          .join(broadcast(frontier.toSeq.toDF("key")), lower(col("src")) === col("key"))
          .select(col("dst"), lower(col("dst"))).distinct().collect()
          .map(r => (r.getString(0), r.getString(1))).filterNot(e => seen(e._2)).toSeq
        val keys = hop.map(_._2).toSet
        Some((hop, (seen ++ keys, keys)))
      }
    }
  }

  /** Bounded BFS: entities within `depth` hops of `name`, with min path
    * length (graph_search.py:242-309, graph/queries.py:23-57). depth ≤ 3 —
    * one `frontiers` hop each, never an unbounded iterate. Entities keep
    * their stored spelling; each is reported at the first hop reaching
    * its lowercase name.
    */
  def relatedEntities(spark: SparkSession, edges: DataFrame, name: String,
      depth: Int = 2): DataFrame = {
    import spark.implicits._
    frontiers(edges, Set(name)).take(depth).zipWithIndex
      .flatMap { case (hop, i) => hop.map { case (raw, _) => (raw, i + 1) } }
      .toSeq.toDF("entity", "distance")
      .orderBy(col("distance").asc, col("entity").asc)
  }

  /** Entities co-mentioned with `name` in >= minShared chunks, top k
    * (graph_search.py:311-365, graph/queries.py:59-94).
    */
  def cooccurringEntities(mentions: DataFrame, name: String,
      minShared: Int = 2, topK: Int = 10): DataFrame = {
    // one entity's chunk set: broadcast, so the mention table is never
    // shuffled by chunk_id (documentSimilarityGraph does the same)
    val target = mentions.where(lower(col("entity_name")) === name.toLowerCase)
      .select(col("chunk_id")).distinct()
    mentions
      .join(broadcast(target), Seq("chunk_id"), "left_semi")
      .where(lower(col("entity_name")) =!= name.toLowerCase)
      .groupBy(col("entity_name"), col("entity_type"))
      .agg(countDistinct(col("chunk_id")).as("shared_chunks"))
      .where(col("shared_chunks") >= minShared)
      .orderBy(col("shared_chunks").desc, col("entity_name").asc)
      .limit(topK)
  }

  /** Full co-occurrence search (graph_search.py:311-365): find the top-10
    * entities co-mentioned with `name` in >= minShared chunks, then run the
    * ANY-match search over name + those entities. The co-occurring list is
    * <= 10 rows — collecting it to the driver mirrors the reference's own
    * two-query flow and is the right call at any scale (the list is the
    * query, not the data).
    */
  def searchByCooccurrence(spark: SparkSession, mentions: DataFrame,
      name: String, minShared: Int = 2, topK: Int = 10): DataFrame = {
    val cooccurring = cooccurringEntities(mentions, name, minShared, topK = 10)
      .select(col("entity_name")).collect().map(_.getString(0)).toSeq
    if (cooccurring.isEmpty)
      mentions.select(col("chunk_id")).limit(0)
        .withColumn("matched", lit(0L)).withColumn("score", lit(0.0))
    else
      searchByEntitiesAny(spark, mentions, name +: cooccurring, topK)
  }

  /** Documents sharing >= minShared distinct entities with `docId`
    * (graph/queries.py:96-129).
    */
  def documentSimilarityGraph(mentions: DataFrame, docId: Any,
      minShared: Int = 3): DataFrame = {
    val target = mentions.where(col("doc_id") === docId)
      .select(col("entity_name"), col("entity_type")).distinct()
    mentions.where(col("doc_id") =!= docId)
      .join(broadcast(target), Seq("entity_name", "entity_type"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("entity_name"), col("entity_type"))
        .as("shared_entities"))
      .where(col("shared_entities") >= minShared)
      .orderBy(col("shared_entities").desc, col("doc_id").asc)
  }

  /** Shortest undirected path length a→b, bounded at maxHops
    * (graph/operations.py:532-567 shortestPath *1..3). Returns an empty
    * frame when no path within the bound. BFS via `frontiers`, stopping at
    * the first hop that reaches b.
    */
  def shortestPathLength(spark: SparkSession, edges: DataFrame, a: String,
      b: String, maxHops: Int = 3): DataFrame = {
    import spark.implicits._
    val target = b.toLowerCase
    val found = frontiers(edges, Set(a)).take(maxHops)
      .indexWhere(_.exists(_._2 == target))
    Seq((a, b, if (found < 0) -1 else found + 1)).toDF("src", "dst", "path_length")
      .where(col("path_length") > 0)
  }

  /** Fulltext fallback (graph_search.py:557-597): keyword containment scan
    * over chunk text, score = number of query tokens present.
    */
  def fulltextSearch(chunks: DataFrame, query: String, topK: Int = 10): DataFrame = {
    val toks = query.toLowerCase.split("\\W+").filter(_.length > 2).distinct.toSeq
    if (toks.isEmpty) return chunks.select(col("chunk_id")).limit(0)
      .withColumn("score", lit(0))
    val score = toks.map(t =>
      when(lower(col("text")).contains(t), 1).otherwise(0))
      .reduce(_ + _)
    chunks.select(col("chunk_id"), score.as("score"))
      .where(col("score") > 0)
      .orderBy(col("score").desc, col("chunk_id").asc)
      .limit(topK)
  }

  /** Query NER fallback (graph_search.py:367-448): capitalized-run regex
    * minus question words, order-preserving dedup. Driver-side, pure.
    */
  def entitiesFromQuery(query: String): Seq[String] = {
    val questionWords = Set("What", "Who", "Where", "When", "Why", "How",
      "Which", "Did", "Does", "Is", "Are", "Was", "Were", "The", "A", "An")
    val pat = """\b[A-Z][a-z]+(?:\s+[A-Z][a-z]+)*\b""".r
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    pat.findAllIn(query).foreach { m =>
      if (!questionWords.contains(m)) seen += m
    }
    seen.toSeq
  }
}
