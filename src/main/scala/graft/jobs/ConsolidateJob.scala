package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.canon.{Canonicalize, ConnectedComponents}
import graft.core.TableIO
import graft.link.Linker

/** The second spark-submit entry point (reference
  * scripts/consolidate_graph.py → GraphConsolidator.consolidate_entities,
  * consolidation.py:60-178): periodic cross-document canonicalization of an
  * already-materialized graph. Reads the current nodes/edges/mentions_final
  * snapshots from a work dir, re-runs linking + connected components over
  * the node table, merges groups, repoints mention/edge endpoints, and
  * commits NEW snapshots — the previous snapshots stay readable (snapshot
  * isolation), so a consolidation crash never corrupts the graph.
  *
  * Mirrored semantics:
  *   - threshold gate (consolidate_periodically, consolidation.py:430-457):
  *     skip unless count(nodes) >= --threshold (reference default 100);
  *   - per-type blocking (consolidation.py:111-139): Linker.candidates
  *     keys every blocking family by entity_type, so type is the natural
  *     partition of the candidate join — the reference's "by_type" loop is
  *     one DataFrame job here (note the reference CLI's positional-arg slip
  *     makes by_type effectively always true, consolidation.py:465-480);
  *   - merge lineage: merged_entity_ids accumulates across runs
  *     (consolidation.py:296-304 merged_entity_ids +=).
  *
  * Usage: ConsolidateJob --work DIR [--threshold N] [--buckets N]
  *
  * `--buckets` must match the value the graph was INGESTED with
  * (IngestJob --buckets, default 32): the consolidated mentions_final is
  * re-bucketed on write, and a different modulus would silently change
  * the partition layout bucket-pruned readers and co-partitioned joins
  * key on.
  */
object ConsolidateJob {

  final case class Args(work: String = "", threshold: Long = 100L,
      buckets: Int = 32)

  def parse(argv: Array[String]): Args = {
    var a = Args()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--work" => a = a.copy(work = argv(i + 1)); i += 2
        case "--threshold" => a = a.copy(threshold = argv(i + 1).toLong); i += 2
        case "--buckets" => a = a.copy(buckets = argv(i + 1).toInt); i += 2
        case other => sys.error(s"unknown arg $other")
      }
    }
    require(a.work.nonEmpty, "--work DIR is required")
    a
  }

  /** @return true if consolidation ran, false if under the threshold. */
  def run(spark: SparkSession, a: Args): Boolean = {
    val io = new TableIO(a.work)
    val nodes = io.read(spark, "nodes")
    val nNodes = nodes.count()
    if (nNodes < a.threshold) {
      System.err.println(
        s"[consolidate] skipped: $nNodes nodes < threshold ${a.threshold}")
      return false
    }

    // the node table already has the entity-table shape Linker expects
    val entities = nodes.select(col("entity_id"), col("name"),
      col("entity_type"), col("mention_count"), col("first_seen"),
      col("last_seen"))
    val dupPairs = Linker.verdicts(Linker.candidates(entities)).persist()
    val nPairs = dupPairs.count()
    // the reference logs llm_calls_saved_estimate = sum n(n-1)/2 vs naive
    // (consolidation.py:104-108); here: candidates examined vs naive N^2/2
    System.err.println(f"[consolidate] $nNodes%d nodes, $nPairs%d duplicate " +
      f"pairs (naive would compare ${nNodes * (nNodes - 1) / 2}%d)")

    val components = ConnectedComponents.run(spark,
      dupPairs.select(col("id1"), col("id2")))
    val merged = Canonicalize.nodes(entities, components)
    // accumulate lineage across consolidation runs: fold the previous
    // merged_entity_ids of every absorbed node into the canonical row
    val prevLineage = nodes.select(col("entity_id").as("lid"),
      col("merged_entity_ids").as("prev_ids"))
    val withLineage = merged
      .withColumn("all_ids",
        array_union(array(col("entity_id")), col("merged_entity_ids")))
      .withColumn("member", explode(col("all_ids")))
      .join(prevLineage, col("member") === col("lid"), "left")
      .groupBy(col("entity_id"))
      .agg(array_sort(array_distinct(array_except(
        flatten(collect_list(coalesce(col("prev_ids"),
          array().cast("array<string>")))),
        array(col("entity_id"))))).as("prior_merged"))
    val finalNodes = merged.join(withLineage, Seq("entity_id"))
      .withColumn("merged_entity_ids",
        array_sort(array_distinct(concat(col("merged_entity_ids"),
          col("prior_merged")))))
      .drop("prior_merged")

    // driver-local (Canonicalize.mapping collects it), so the two rewrite
    // commits below share it without re-running its joins
    val mapping = Canonicalize.mapping(entities, components)
    val edges = Canonicalize.rewriteTriples(spark,
      io.read(spark, "edges").drop("bucket"), mapping)
    val mentions = Canonicalize.rewriteMentions(
      io.read(spark, "mentions_final").drop("bucket"), mapping)

    io.commit("nodes", finalNodes, Seq("entity_type"), stage = "consolidate")
    io.commit("edges", edges, Seq("pred"), stage = "consolidate")
    io.commit("mentions_final",
      mentions.withColumn("bucket",
        pmod(xxhash64(col("doc_id")), lit(a.buckets))),
      Seq("bucket"), stage = "consolidate")
    dupPairs.unpersist()
    System.err.println(s"[consolidate] committed snapshots: nodes=" +
      s"${io.currentSnapshotId("nodes").get} edges=" +
      s"${io.currentSnapshotId("edges").get} mentions_final=" +
      s"${io.currentSnapshotId("mentions_final").get}")
    true
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft-consolidate")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, a) finally spark.stop()
  }
}
