package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.canon.{Canonicalize, ConnectedComponents}
import graft.core.Schema._
import graft.core.TableIO
import graft.ingest.{GazetteerNer, RelationPatterns, SpanChunker}
import graft.link.Linker

/** The spark-submit ingestion entry point: the full construction DAG with a
  * TableIO snapshot commit at EVERY stage boundary (north rule: "resumable
  * from checkpoint with per-partition lineage + metrics"). On --resume, any
  * stage whose snapshot already exists is skipped and its table is read
  * back, so a killed run restarts from the last completed stage and the
  * final output is byte-identical (all stages are deterministic).
  *
  * Usage:
  *   IngestJob --work DIR [--docs N] [--seed S] [--input PATH --meta-input PATH]
  *             [--gazetteer PATH] [--chunk-size N] [--overlap N]
  *             [--strategy semantic|fixed] [--resume] [--buckets N]
  *
  * Table layout (SURVEY §1.3 → Spark tables):
  *   chunks    partitioned by bucket(doc_id)  — span-preserving chunk rows
  *   mentions  partitioned by bucket(doc_id)  — chunk→entity edges
  *   triples   (pre-canonical, deduped)
  *   entities  — (name,type)-keyed aggregate
  *   dup_pairs / components — linking + CC intermediates (resume points)
  *   nodes     partitioned by entity_type     — canonical entities + lineage
  *   edges     partitioned by pred            — canonical temporal triples
  *   mentions_final partitioned by bucket(doc_id)
  */
object IngestJob {

  final case class Args(
      work: String = "",
      docs: Long = 1000L,
      seed: Long = 42L,
      input: Option[String] = None,
      metaInput: Option[String] = None,
      gazetteer: Option[String] = None,
      chunkSize: Int = 200,
      overlap: Int = 40,
      strategy: String = "semantic",
      resume: Boolean = false,
      buckets: Int = 32)

  def parse(argv: Array[String]): Args = {
    var a = Args()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--work" => a = a.copy(work = argv(i + 1)); i += 2
        case "--docs" => a = a.copy(docs = argv(i + 1).toLong); i += 2
        case "--seed" => a = a.copy(seed = argv(i + 1).toLong); i += 2
        case "--input" => a = a.copy(input = Some(argv(i + 1))); i += 2
        case "--meta-input" => a = a.copy(metaInput = Some(argv(i + 1))); i += 2
        case "--gazetteer" => a = a.copy(gazetteer = Some(argv(i + 1))); i += 2
        case "--chunk-size" => a = a.copy(chunkSize = argv(i + 1).toInt); i += 2
        case "--overlap" => a = a.copy(overlap = argv(i + 1).toInt); i += 2
        case "--strategy" => a = a.copy(strategy = argv(i + 1)); i += 2
        case "--buckets" => a = a.copy(buckets = argv(i + 1).toInt); i += 2
        case "--resume" => a = a.copy(resume = true); i += 1
        case other => sys.error(s"unknown arg $other")
      }
    }
    require(a.work.nonEmpty, "--work DIR is required")
    a
  }

  private def withBucket(df: DataFrame, buckets: Int): DataFrame =
    df.withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(buckets)))

  /** Run one stage with checkpoint/resume semantics. */
  private def stage(io: TableIO, spark: SparkSession, table: String,
      resume: Boolean, partitionBy: Seq[String])(compute: => DataFrame): DataFrame = {
    if (resume && io.exists(table)) {
      System.err.println(s"[ingest] stage $table: resumed from snapshot " +
        s"${io.currentSnapshotId(table).get}")
    } else {
      val t0 = System.nanoTime()
      val snap = io.commit(table, compute, partitionBy, stage = table)
      System.err.println(f"[ingest] stage $table: committed snapshot " +
        f"${snap.snapshotId} rows=${snap.rows} in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    io.read(spark, table)
  }

  def run(spark: SparkSession, a: Args): TableIO = {
    import spark.implicits._
    val io = new TableIO(a.work)
    val cfg = SpanChunker.Config(a.chunkSize, a.overlap, a.strategy)

    val chunksDf = stage(io, spark, "chunks", a.resume, Seq("bucket")) {
      val chunks = (a.input, a.metaInput) match {
        case (Some(in), Some(metaIn)) =>
          val docs = spark.read.parquet(in).as[DocRow]
          val metas = spark.read.parquet(metaIn).as[DocMeta]
          SpanChunker.chunk(spark, docs, metas, cfg)
        case _ =>
          Pipeline.chunksOfSynth(spark, a.docs, a.seed, cfg)
      }
      withBucket(chunks.toDF(), a.buckets)
    }
    val chunks = chunksDf.drop("bucket").as[ChunkRow]

    // gazetteer is DATA: a user-supplied (surface, tpe) parquet table
    // broadcasts into the pooled per-executor trie (SURVEY §2.3)
    val gaz = a.gazetteer match {
      case Some(path) => spark.read.parquet(path)
        .select(col("surface"), col("tpe"))
        .as[graft.fixtures.Fixtures.GazEntry].collect().toSeq
      case None => graft.fixtures.Fixtures.gazetteer
    }
    val mentions = stage(io, spark, "mentions", a.resume, Seq("bucket")) {
      withBucket(GazetteerNer.detect(spark, chunks, gaz).toDF(), a.buckets)
    }.drop("bucket")

    val triples = stage(io, spark, "triples", a.resume, Seq.empty) {
      // same user-supplied gazetteer as the mentions stage — relation
      // extraction scans sentences with the identical entity matcher
      RelationPatterns.dedup(RelationPatterns.extract(spark, chunks, gaz))
    }

    val entities = stage(io, spark, "entities", a.resume, Seq("entity_type")) {
      Linker.entities(mentions)
    }

    val dupPairs = stage(io, spark, "dup_pairs", a.resume, Seq.empty) {
      Linker.verdicts(Linker.candidates(entities))
    }

    val components = stage(io, spark, "components", a.resume, Seq.empty) {
      ConnectedComponents.run(spark, dupPairs.select(col("id1"), col("id2")))
    }

    stage(io, spark, "nodes", a.resume, Seq("entity_type")) {
      Canonicalize.nodes(entities, components)
    }

    // driver-local (Canonicalize.mapping collects it): neither rewrite
    // stage's commit re-runs its joins against the full entity table
    val mapping = Canonicalize.mapping(entities, components)

    stage(io, spark, "edges", a.resume, Seq("pred")) {
      Canonicalize.rewriteTriples(spark, triples, mapping)
    }

    stage(io, spark, "mentions_final", a.resume, Seq("bucket")) {
      withBucket(Canonicalize.rewriteMentions(mentions, mapping), a.buckets)
    }

    io
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft-ingest")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, a) finally spark.stop()
  }
}
