package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

import graft.SparkEntry

/** Physical-plan audit: for every SparkEntry query, print whether the plan
  * (a) pushes filters into the parquet scan, (b) prunes the read schema,
  * (c) broadcast-joins its small sides, (d) stays inside whole-stage
  * codegen, and (e) how long its extended explain string is (`planChars`
  * — what every action re-prints, so lineage growth shows here).
  *
  * Usage: PlanAudit [sfDir]
  */
object PlanAudit {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-plan-audit")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      // UTC pin — same reason as QueryTime: NTZ casts in event queries
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val skipPipeline = Set("kg_edges", "kg_nodes", "kg_mentions", "kg_chunks",
      "kg_ppr", "kg_nodes_dist", "kg_ppr_dist",
      "q_media_features", // eager pipeline builds — audited via probe
      // multi-stage snapshotted job: the returned df is just a parquet
      // read of the final table; its constituent ops are audited via
      // their own rows (q_dedup_*, q_quality, q_lang_id, q_split)
      "q_curate_pipeline")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!skipPipeline(name)) {
        try {
          val df = fn(spark, sfDir)
          // collect() executes THIS df's QueryExecution so its AQE plan is
          // final and codegen spans are visible (count() would plan a new QE)
          df.collect()
          val qe: QueryExecution = df.queryExecution
          val physical = qe.executedPlan.toString
          val formatted = qe.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val pushed = "PushedFilters: \\[[^\\]]".r.findFirstIn(formatted).isDefined
          val readSchema = "ReadSchema: struct<([^>]*)>".r
            .findFirstMatchIn(formatted).map(_.group(1)).getOrElse("")
          val nScanCols = if (readSchema.isEmpty) -1
            else readSchema.split(",").length
          val planChars = qe.explainString(
            org.apache.spark.sql.execution.ExtendedMode).length
          val bhj = physical.contains("BroadcastHashJoin")
          val smj = physical.contains("SortMergeJoin")
          // whole-stage codegen spans render as "*(n)" operator prefixes
          val wsc = """\*\((\d+)\)""".r.findAllMatchIn(physical)
            .map(_.group(1)).toSet.size
          println(f"$name%-22s pushedFilters=$pushed%-5s scanCols=$nScanCols%-3d " +
            f"bcastJoin=$bhj%-5s sortMergeJoin=$smj%-5s codegenSpans=$wsc%-3d " +
            f"planChars=$planChars%d")
        } catch {
          case e: Throwable =>
            println(f"$name%-22s AUDIT-ERROR ${e.getMessage.take(80)}")
        }
      }
    }
    spark.stop()
  }
}
