package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.SpanChunker
import graft.oracle.SerialOracle
import graft.synth.CorpusSynth

/** Linking parity: the engine's blocking-key candidate generation must
  * reproduce the oracle's full-N×N blocking contract EXACTLY at test scale
  * (every bucket below the frequency cap) — a strictly stronger check than
  * the P/R gate, catching silent recall loss in the blocking keys.
  */
class LinkerParitySpec extends AnyFunSuite {
  test("validated duplicate pairs: engine (blocking keys) == oracle (N×N)") {
    val spark = SparkTestBase.spark
    val cfg = SpanChunker.Config(200, 40)
    val oracle = SerialOracle.run(CorpusSynth.serial(120, 42), cfg)
    val engine = Pipeline.runSynth(spark, 120, 42, cfg, 4)
    val got = engine.dupPairs.select("id1", "id2").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val want = oracle.dupPairs.toSet
    val byId = oracle.entities.map(e => e.id -> s"${e.name}[${e.tpe}]").toMap
    val missing = (want -- got).map { case (a, b) => s"${byId(a)} <-> ${byId(b)}" }
    val extra = (got -- want).map { case (a, b) => s"${byId(a)} <-> ${byId(b)}" }
    assert(missing.isEmpty, s"engine missed pairs: ${missing.take(10)}")
    assert(extra.isEmpty, s"engine invented pairs: ${extra.take(10)}")
  }

  test("feature table: the second pair join reuses the first join's exchange") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    object Aqe extends AdaptiveSparkPlanHelper
    val spark = SparkTestBase.spark
    val engine = Pipeline.runSynth(spark, 120, 42, SpanChunker.Config(200, 40), 4)
    // an uncached entity table, as IngestJob reads it back from its
    // committed stage (over a CACHED table AQE wraps each reference's scan
    // in its own TableCacheQueryStage, which defeats exchange reuse)
    val entities = spark.createDataFrame(
      java.util.Arrays.asList(engine.entities.collect(): _*), engine.entities.schema)
    for (bcast <- Seq(true, false)) {
      val df = graft.link.Linker.candidates(entities, broadcastFeatures = bcast)
      df.collect()
      // the feature side is the only exchange whose output carries `feat`
      val plan = df.queryExecution.executedPlan
      def feat(p: org.apache.spark.sql.execution.SparkPlan) = p.output.exists(_.name == "feat")
      val reused = Aqe.collect(plan) { case r: ReusedExchangeExec if feat(r) => r }
      val built = Aqe.collect(plan) { case e: Exchange if feat(e) => e }
      assert(reused.size === 1 && built.size === 1,
        s"broadcastFeatures=$bcast: built=${built.size} reused=${reused.size}\n$plan")
    }
    engine.unpersistAll()
  }

  test("BASELINE: blocking cuts pairwise comparisons >= 90% vs naive N^2") {
    // the reference's one quantitative efficiency claim (consolidation.py:9,
    // "90%+ reduction in LLM calls"): stage-2/3 verdicts run only on the
    // blocked candidate stream, never on all n(n-1)/2 pairs
    val spark = SparkTestBase.spark
    val cfg = SpanChunker.Config(200, 40)
    val engine = Pipeline.runSynth(spark, 120, 42, cfg, 4)
    val n = engine.entities.count()
    val naive = n * (n - 1) / 2
    val candidates = graft.link.Linker.candidates(engine.entities.toDF()).count()
    val reduction = 1.0 - candidates.toDouble / naive
    info(f"entities=$n naivePairs=$naive candidates=$candidates " +
      f"reduction=${reduction * 100}%.1f%%")
    assert(reduction >= 0.90,
      f"blocking reduction ${reduction * 100}%.1f%% < 90%% " +
        f"($candidates of $naive pairs)")
  }
}
