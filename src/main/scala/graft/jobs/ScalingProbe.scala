package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.Pipeline
import graft.canon.{Canonicalize, ConnectedComponents}
import graft.ingest.{GazetteerNer, RelationPatterns, SpanChunker}
import graft.link.Linker
import graft.synth.CorpusSynth

/** Per-stage wall-clock profiler for the construction pipeline at one
  * parallelism level — run at 8 and 32 cores to see which stage limits
  * scaling. Each stage is forced with a count() on a persisted frame so the
  * timing isolates that stage's own work.
  *
  * Usage: ScalingProbe <cores> <nDocs>
  */
object ScalingProbe {

  private def timeSec[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[probe] $label%-16s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val nDocs = args(1).toLong
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-probe-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._

    val cfg = SpanChunker.Config(200, 40)
    val chunks = timeSec("chunk") {
      val c = SpanChunker.chunkSynth(spark, nDocs, 42L, cfg, cores * 2)
        .persist(StorageLevel.MEMORY_AND_DISK)
      c.count(); c
    }
    val mentions = timeSec("ner") {
      val m = GazetteerNer.detect(spark, chunks).toDF()
        .persist(StorageLevel.MEMORY_AND_DISK)
      m.count(); m
    }
    val triples = timeSec("relations") {
      val t = RelationPatterns.dedup(RelationPatterns.extract(spark, chunks))
        .persist(StorageLevel.MEMORY_AND_DISK)
      t.count(); t
    }
    val entities = timeSec("entities") {
      val e = Linker.entities(mentions).persist(StorageLevel.MEMORY_AND_DISK)
      e.count(); e
    }
    val dupPairs = timeSec("linking") {
      val d = Linker.verdicts(Linker.candidates(entities))
        .persist(StorageLevel.MEMORY_AND_DISK)
      d.count(); d
    }
    val components = timeSec("cc") {
      val c = ConnectedComponents.run(spark,
        dupPairs.select($"id1", $"id2")).persist(StorageLevel.MEMORY_AND_DISK)
      c.count(); c
    }
    val nodes = timeSec("nodes") {
      val n = Canonicalize.nodes(entities, components); n.count(); n
    }
    val mapping = Canonicalize.mapping(entities, components)
    timeSec("edges") {
      Canonicalize.rewriteTriples(spark, triples, mapping).count()
    }
    timeSec("mentions_fin") {
      Canonicalize.rewriteMentions(mentions, mapping).count()
    }
    // SPARK_GRAFT_PROBE_PLANS=DIR → dump the rewrite's formatted plan (the
    // narrow-path/aggregate split is a build-internal frame no SparkEntry
    // query exposes directly)
    sys.env.get("SPARK_GRAFT_PROBE_PLANS").foreach { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(d, "kg_mentions_final_build.txt"),
        Canonicalize.rewriteMentions(mentions, mapping).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
