package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.canon.{Canonicalize, ConnectedComponents}
import graft.core.Schema._
import graft.ingest.{GazetteerNer, RelationPatterns, SpanChunker}
import graft.link.Linker
import graft.synth.CorpusSynth

/** In-memory composition of the full KG-construction DAG (SURVEY §3.1):
  *
  *   read spans → chunk (narrow) → mentions (mapPartitions, narrow)
  *   → triples (narrow) + dedup (1 shuffle)
  *   → entity aggregation (1 shuffle on (name,type))
  *   → linking: blocking self-join + top-k window (bounded shuffles)
  *   → connected components (iterative, lineage-truncated)
  *   → canonical merge + broadcast endpoint rewrite + edge re-dedup
  *
  * The checkpointed, resumable variant lives in jobs.IngestJob; this object
  * is the shared logical plan used by it, by SparkEntry's queries, by Bench
  * and by the test suites.
  */
object Pipeline {

  final case class Result(
      chunks: Dataset[ChunkRow],
      mentions: DataFrame,
      triples: DataFrame,
      entities: DataFrame,
      dupPairs: DataFrame,
      components: DataFrame,
      nodes: DataFrame,
      edges: DataFrame,
      mentionsFinal: DataFrame,
      mapping: DataFrame) {
    /** Release every cached intermediate. */
    def unpersistAll(): Unit = {
      chunks.unpersist(); mentions.unpersist(); triples.unpersist()
      entities.unpersist(); dupPairs.unpersist()
    }
  }

  def chunksOfSynth(spark: SparkSession, nDocs: Long, seed: Long,
      cfg: SpanChunker.Config, partitions: Int = 0): Dataset[ChunkRow] =
    SpanChunker.chunkSynth(spark, nDocs, seed, cfg, partitions)

  /** Run everything downstream of the chunk table.
    *
    * The extraction outputs are persisted (memory-and-disk): mentions feeds
    * entities, the canonical mapping AND mentionsFinal — without the cache
    * the narrow-but-hot NER scan re-runs once per downstream action. At
    * cluster scale these caches are the stage-boundary tables the
    * checkpointed IngestJob materializes anyway.
    */
  def fromChunks(spark: SparkSession, chunks: Dataset[ChunkRow],
      gazetteer: Seq[graft.fixtures.Fixtures.GazEntry] =
        graft.fixtures.Fixtures.gazetteer): Result = {
    import org.apache.spark.storage.StorageLevel
    val mentions = GazetteerNer.detect(spark, chunks, gazetteer).toDF()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val triples = RelationPatterns.dedup(
      RelationPatterns.extract(spark, chunks, gazetteer))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val entities = Linker.entities(mentions)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // persisted: ConnectedComponents consumes the pair graph at least twice
    // (path-choice count + collect-or-iterate) — without the cache each
    // action re-runs the whole salted linking self-join (measured: the
    // single biggest serial-fraction item in the scaling bench)
    val dupPairs = Linker.verdicts(Linker.candidates(entities))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val components = ConnectedComponents.run(spark,
      dupPairs.select(col("id1"), col("id2")))
    val nodes = Canonicalize.nodes(entities, components)
    // driver-local: computed once here, so neither rewrite re-runs its
    // joins against the full entity table nor carries that lineage
    val mapping = Canonicalize.mapping(entities, components)
    val edges = Canonicalize.rewriteTriples(spark, triples, mapping)
    val mentionsFinal = Canonicalize.rewriteMentions(mentions, mapping)
    Result(chunks, mentions, triples, entities, dupPairs, components,
      nodes, edges, mentionsFinal, mapping)
  }

  /** End-to-end over the deterministic synthetic corpus. */
  def runSynth(spark: SparkSession, nDocs: Long, seed: Long = 42L,
      cfg: SpanChunker.Config = SpanChunker.Config(),
      partitions: Int = 0): Result = {
    import spark.implicits._
    val chunks = chunksOfSynth(spark, nDocs, seed, cfg, partitions)
      .persist()
    fromChunks(spark, chunks)
  }
}
