package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Schema._
import graft.ingest.SpanChunker
import graft.oracle.SerialOracle
import graft.synth.CorpusSynth

/** The correctness gate of the north rule: the distributed engine's
  * emitted (subj, pred, obj) set must match the serial deterministic
  * oracle at P/R >= 0.95 (BASELINE.md row 1), and every chunk row must
  * satisfy span-sequence equality (BASELINE.md row 2).
  */
class ParitySpec extends AnyFunSuite {

  private val nDocs = 120
  private val seed = 42L
  private val cfg = SpanChunker.Config(chunkSize = 200, overlap = 40)

  private lazy val spark = SparkTestBase.spark
  private lazy val serialDocs = CorpusSynth.serial(nDocs, seed)
  private lazy val oracle = SerialOracle.run(serialDocs, cfg)
  private lazy val engine = {
    val r = Pipeline.runSynth(spark, nDocs.toLong, seed, cfg, partitions = 4)
    r.edges.persist(); r.mentions.persist(); r.triples.persist()
    r
  }

  private def pr(got: Set[(String, String, String)],
      want: Set[(String, String, String)]): (Double, Double) = {
    val inter = (got intersect want).size.toDouble
    (if (got.isEmpty) 1.0 else inter / got.size,
      if (want.isEmpty) 1.0 else inter / want.size)
  }

  test("corpus sanity: synthetic docs yield chunks, mentions and triples") {
    assert(oracle.chunks.nonEmpty)
    assert(oracle.mentions.size > 500)
    assert(oracle.triplesRaw.size > 100)
    assert(oracle.dupPairs.nonEmpty, "linking should find alias duplicate pairs")
    assert(oracle.canonicalOf.nonEmpty)
  }

  test("span-sequence equality: engine chunks reproduce every doc's spans") {
    val got = engine.chunks.collect()
      .groupBy(_.doc_id)
      .map { case (d, cs) =>
        d -> cs.sortBy(_.chunk_index).flatMap(_.spans)
          .map(s => (s.kind, s.text, s.media_ref, s.offset)).toSeq
      }
    serialDocs.foreach { case (doc, _) =>
      val want = doc.spans.sortBy(_.offset)
        .map(s => (s.kind, s.text, s.media_ref, s.offset))
      assert(got(doc.doc_id) === want, s"span invariant broken: ${doc.doc_id}")
    }
  }

  test("mention parity: engine mention set == oracle mention set") {
    val got = engine.mentions
      .select("chunk_id", "entity_name", "entity_type", "position", "mention_count")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getInt(3), r.getInt(4))).toSet
    val want = oracle.mentions
      .map(m => (m.chunk_id, m.entity_name, m.entity_type, m.position, m.mention_count))
      .toSet
    assert(got === want)
  }

  test("pre-canonical triple parity: exact set match") {
    val got = engine.triples
      .select("subj", "pred", "obj", "t_start", "t_end")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        String.valueOf(r.get(3)), String.valueOf(r.get(4)))).toSet
    val want = SerialOracle.dedupTriples(oracle.triplesRaw)
      .map(t => (t.subj, t.pred, t.obj, t.tStart.toString,
        t.tEnd.map(_.toString).getOrElse("null"))).toSet
    assert(got === want)
  }

  test("NORTH RULE: canonical (subj, pred, obj) P/R >= 0.95 vs oracle") {
    val got = engine.edges.select("subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val want = oracle.edges.map(t => (t.subj, t.pred, t.obj)).toSet
    val (p, r) = pr(got, want)
    info(f"precision=$p%.4f recall=$r%.4f (engine=${got.size}, oracle=${want.size})")
    assert(p >= 0.95, f"precision $p%.4f < 0.95")
    assert(r >= 0.95, f"recall $r%.4f < 0.95")
  }

  test("gazetteer is data: engine == oracle under a non-fixture gazetteer") {
    // a custom vocabulary over the same corpus: half the fixture surfaces
    // plus entries that don't exist in fixtures at all
    import graft.fixtures.Fixtures.GazEntry
    val custom = graft.fixtures.Fixtures.gazetteer.zipWithIndex
      .collect { case (g, i) if i % 2 == 0 => g } ++
      Vector(GazEntry("revenue growth", "OTHER"), GazEntry("guidance", "OTHER"))
    val engineMentions = graft.ingest.GazetteerNer
      .detect(spark, engine.chunks, custom)
      .collect()
      .map(m => (m.chunk_id, m.entity_name, m.entity_type, m.position,
        m.mention_count)).toSet
    val oracleMentions = oracle.chunks
      .flatMap(c => SerialOracle.mentionsOf(c, custom))
      .map(m => (m.chunk_id, m.entity_name, m.entity_type, m.position,
        m.mention_count)).toSet
    assert(engineMentions === oracleMentions)
    assert(engineMentions.exists(_._2 == "revenue growth"),
      "custom gazetteer entries must be detected")
  }

  test("canonical mapping is driver-local; no entities cache nests in the outputs") {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    val mapping = graft.canon.Canonicalize.mapping(engine.entities, engine.components)
    assert(mapping.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(mapping.count() > 0, "the fixture must merge something")
    // every InMemoryRelation a plan reaches, through nested cached plans
    object Aqe extends AdaptiveSparkPlanHelper
    def cached(i: InMemoryRelation): Seq[InMemoryRelation] =
      i +: Aqe.collect(i.cacheBuilder.cachedPlan: SparkPlan) {
        case s: InMemoryTableScanExec => s.relation
      }.flatMap(cached)
    def nested(p: LogicalPlan) = p.collect { case i: InMemoryRelation => i }.flatMap(cached)
    val entitiesCache = nested(engine.entities.queryExecution.withCachedData).head
    for ((name, df) <- Seq("edges" -> engine.edges,
        "mentionsFinal" -> engine.mentionsFinal)) {
      val imrs = nested(df.queryExecution.withCachedData)
      assert(imrs.nonEmpty, s"$name: expected the extraction caches")
      assert(!imrs.exists(_.cacheBuilder eq entitiesCache.cacheBuilder),
        s"$name nests the entities cache (${imrs.size} cached relations)")
    }
  }

  test("canonical nodes carry merge lineage and conserve mention counts") {
    val nodeRows = engine.nodes.select("entity_id", "mention_count", "merged_entity_ids")
      .collect()
    val totalNodeMentions = nodeRows.map(_.getLong(1)).sum
    val totalEntityMentions = oracle.entities.map(_.mentionCount).sum
    assert(totalNodeMentions === totalEntityMentions,
      "mention_count must be conserved through canonical merge")
    val merged = nodeRows.map(r => r.getSeq[String](2).size).sum
    val wantMerged = oracle.nodes.map(_._2.size).sum
    assert(merged === wantMerged, "merge lineage cardinality mismatch")
  }
}
