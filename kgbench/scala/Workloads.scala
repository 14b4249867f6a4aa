package kgbench

import java.nio.file.Paths

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Pipeline
import graft.canon.{Canonicalize, ConnectedComponents}
import graft.core.Schema._
import graft.core.TableIO
import graft.fixtures.Fixtures.GazEntry
import graft.ingest.{GazetteerNer, RelationPatterns, SpanChunker}
import graft.link.{JaroWinkler, Linker, NameFeatures}
import graft.oracle.SerialOracle
import graft.retrieval.{GraphSearch, HybridSearch, Ppr}
import graft.text.Tok

/** The frames a build leaves behind for the checks. */
final case class Outputs(chunks: DataFrame, entities: DataFrame,
    dupPairs: DataFrame, components: DataFrame, nodes: DataFrame,
    edges: DataFrame, mentionsFinal: DataFrame, release: () => Unit)

/** Bulk construction of one corpus: documents in to a complete canonical
  * graph (chunk → NER → relations → entities → linking → CC →
  * canonicalize), then the nodes and edges committed through TableIO and
  * each committed snapshot read back, as IngestJob does per stage.
  */
final class IngestBulk(spark: SparkSession, input: String, work: String)
    extends Workload {
  import spark.implicits._

  private val cfg = SpanChunker.Config()
  private val edgeCols = Seq("subj", "subj_type", "pred", "obj", "obj_type",
    "t_start", "t_end", "confidence", "description", "source_chunks")

  lazy val gazetteer: Seq[GazEntry] = Corpus.gazetteer(spark, input)
  /** The measured corpus, or with `warm` the small set-up corpus. */
  private def dir(warm: Boolean) = if (warm) s"$input/warm" else input
  private def docs(warm: Boolean = false) = Corpus.docs(spark, dir(warm))
  private def metas(warm: Boolean = false) = Corpus.metas(spark, dir(warm))

  lazy val kernelDocs: IndexedSeq[(DocRow, DocMeta)] = {
    val m = metas().collect().map(x => x.doc_id -> x).toMap
    docs().collect().sortBy(_.doc_id).map(d => (d, m(d.doc_id))).toIndexedSeq
  }
  def kernelNames: IndexedSeq[String] = gazetteer.map(_.surface).toIndexedSeq

  private var last: Option[Outputs] = None
  private def keep(o: Outputs): Unit = { last.foreach(_.release()); last = Some(o) }
  /** The chunk table is persisted by the benchmark, as Pipeline.runSynth
    * does, not by the layers under test. */
  override def ownCache: Seq[DataFrame] = last.map(_.chunks).toSeq

  /** Documents in to a complete canonical graph, with nodes, edges and
    * mentions_final all forced. Untraced, this is the program's own
    * composition (Pipeline.fromChunks). Traced, the same DAG is composed
    * from the public functions with each layer persisted and counted in
    * its own span.
    */
  private def build(t: Option[Tracer], i: Int, warm: Boolean): Outputs = t match {
    case None =>
      val chunks = SpanChunker.chunk(spark, docs(warm), metas(warm), cfg).persist()
      val r = Pipeline.fromChunks(spark, chunks, gazetteer)
      r.edges.count(); r.nodes.count(); r.mentionsFinal.count()
      Outputs(chunks.toDF(), r.entities, r.dupPairs, r.components, r.nodes,
        r.edges, r.mentionsFinal, () => { r.unpersistAll(); chunks.unpersist() })
    case Some(_) =>
      def st(name: String)(df: => DataFrame) = Util.stage(t, i, name)(df)
      val gaz = gazetteer
      val d = st("read")(docs(warm).toDF()).as[DocRow]
      val m = st("read")(metas(warm).toDF()).as[DocMeta]
      val chunks = st("chunk")(SpanChunker.chunk(spark, d, m, cfg).toDF())
      val chunkDs = chunks.as[ChunkRow]
      val mentions = st("ner")(GazetteerNer.detect(spark, chunkDs, gaz).toDF())
      val triples = st("relations")(
        RelationPatterns.dedup(RelationPatterns.extract(spark, chunkDs, gaz)))
      val entities = st("entities")(Linker.entities(mentions))
      val cands = st("link.candidates")(Linker.candidates(entities))
      val dup = st("link.verdicts")(Linker.verdicts(cands))
      val comps = st("cc")(
        ConnectedComponents.run(spark, dup.select(col("id1"), col("id2"))))
      val nodes = st("canon.nodes")(Canonicalize.nodes(entities, comps))
      val mapping = Canonicalize.mapping(entities, comps)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val edges = st("canon.edges")(
        Canonicalize.rewriteTriples(spark, triples, mapping))
      val mf = st("canon.mentions_final")(
        Canonicalize.rewriteMentions(mentions, mapping))
      Outputs(chunks, entities, dup, comps, nodes, edges, mf, () => {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      })
  }

  private def opDir(i: Int) = Paths.get(work, s"op-$i")

  private def buildAndCommit(t: Option[Tracer], i: Int, warm: Boolean = false): Outputs = {
    val o = build(t, i, warm)
    val io = new TableIO(opDir(i).toString)
    def span[T](name: String)(f: => T)(rows: T => Long): T =
      t.fold(f)(_.span(name, i)(f)(rows))
    Seq(("nodes", o.nodes, Seq("entity_type")),
      ("edges", o.edges, Seq("pred"))).foreach { case (name, df, parts) =>
      span("tableio.commit")(io.commit(name, df, parts, name))(_.rows)
      span("tableio.read")(io.read(spark, name).count())(identity)
    }
    o.copy(edges = io.read(spark, "edges"), release = () => {
      o.release(); Util.deleteTree(opDir(i))
    })
  }

  /** Two warm-up builds: after only one, the first measured build ran
    * about 25% slower than the next. */
  def setup(): Unit = Seq(-2, -1).foreach(i => keep(buildAndCommit(None, i, warm = true)))

  def op(i: Int, t: Option[Tracer]): (Double, String) = {
    last.foreach(_.release()); last = None
    val (o, s) = Util.seconds(t match {
      case None => buildAndCommit(None, i)
      case Some(tr) => tr.span("op", i)(buildAndCommit(t, i))(_ => 0L)
    })
    keep(o)
    (s, Util.digest(o.edges.select(edgeCols.map(col): _*)))
  }

  /** Accepted pairs over generator-truth alias pairs that satisfy the
    * verdict rule (cosine >= 0.85 and Jaro-Winkler >= 0.7).
    */
  private def truthRecall(o: Outputs): Double = {
    val ids = o.entities.select("entity_id", "name", "entity_type").collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getString(0)).toMap
    val truth = spark.read.option("multiLine", true).json(s"$input/truth.json")
      .collect().flatMap { r =>
        val tpe = r.getAs[String]("type")
        val names = r.getAs[scala.collection.Seq[String]]("aliases")
          .map(Tok.normalizeEntityName).distinct.filter(n => ids.contains((n, tpe)))
        for {
          i <- names.indices; j <- names.indices if i < j
          if NameFeatures.cosine(names(i), names(j)) >= Const.EmbThreshold &&
            JaroWinkler.similarity(names(i), names(j)) >= Const.StrThreshold
        } yield {
          val (a, b) = (ids((names(i), tpe)), ids((names(j), tpe)))
          if (a < b) (a, b) else (b, a)
        }
      }.toSet
    val accepted = o.dupPairs.select("id1", "id2").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    if (truth.isEmpty) 0.0 else truth.count(accepted).toDouble / truth.size
  }

  private var pathProps: Seq[(String, Any)] = Seq.empty
  def props: Seq[(String, Any)] = pathProps

  def check(digests: IndexedSeq[String]): (Seq[(String, Any)], Set[Int]) = {
    val o = last.get
    // the serial oracle (one thread) runs while Spark collects the outputs
    val docs = kernelDocs
    val oracleRun = Future(SerialOracle.run(docs, cfg, gazetteer))(ExecutionContext.global)
    val key = (r: Row) => (r.getString(0), r.getString(1), r.getString(2),
      r.getString(3), r.getString(4))
    val got = o.edges.select("subj", "subj_type", "pred", "obj", "obj_type")
      .collect().map(key).toSet
    val chunkSpans = o.chunks.as[ChunkRow].collect().groupBy(_.doc_id)
      .map { case (d, cs) => d -> cs.sortBy(_.chunk_index).toSeq.flatMap(_.spans) }
    val spanMismatch = docs.count { case (d, _) =>
      chunkSpans.getOrElse(d.doc_id, Seq.empty) != d.spans }
    val pairs = o.dupPairs.count()
    pathProps = Seq("entities" -> o.entities.count(), "accepted_pairs" -> pairs,
      "cc_path" -> (if (pairs * 2 <= ConnectedComponents.LocalEdgeCap) "local"
        else "distributed"),
      "canonical_edges" -> o.edges.count())
    val recall = truthRecall(o)
    val oracle = Await.result(oracleRun, Duration.Inf)
    val want = oracle.edges.map(e => (e.subj, e.subjType, e.pred, e.obj, e.objType)).toSet
    val hit = (got & want).size.toDouble
    val p = if (got.isEmpty) 0.0 else hit / got.size
    val r = if (want.isEmpty) 0.0 else hit / want.size
    val ok = p >= 0.95 && r >= 0.95 && spanMismatch == 0
    val verdicts = Seq("triple_p" -> p, "triple_r" -> r,
      "span_sequence_mismatches" -> spanMismatch, "recall_vs_truth" -> recall)
    o.release(); last = None
    // every operation must have produced the checked operation's edges
    (verdicts, digests.indices.filter(i => !ok || digests(i) != digests.last).toSet)
  }
}


/** Retrieval over the canonical graph the pipeline builds, during set-up,
  * from a seeded corpus of `ingest_bulk`'s shape. The graph is replicated
  * under a per-replica name prefix ("r00 ", "r01 ", ...) until its edge
  * table is over Ppr's local cap, so each replica keeps the pipeline's own
  * degree and neighbourhood shape. The calls are a fixed rotation of Ppr,
  * GraphSearch and HybridSearch, Zipf-skewed over the entities' popularity.
  */
final class KgQuery(spark: SparkSession, input: String) extends Workload {

  final case class Call(kind: String, names: Seq[String], tpe: String)

  /** Replicate until the table holds this many edges: both directions
    * together are then over Ppr.LocalEdgeCap. */
  private val targetEdges = 101000L
  final case class Graph(nodes: DataFrame, edges: DataFrame, mentions: DataFrame)
  private var graph: Graph = _
  private var calls: IndexedSeq[Call] = IndexedSeq.empty
  private var shape: Seq[(String, Any)] = Seq.empty
  private val warmups = 6
  /** A round is one call of each kind, so every window holds the same mix. */
  override def round: Int = warmups
  private val results = scala.collection.mutable.Map.empty[Int, (Call, Array[Row])]

  override def ownCache: Seq[DataFrame] = Seq(graph.nodes, graph.edges, graph.mentions)

  private def replicated(df: DataFrame, prefixes: DataFrame, cols: Set[String]): DataFrame = {
    val out = df.crossJoin(broadcast(prefixes)).select(df.columns.toSeq.map(c =>
      if (cols(c)) concat(col("prefix"), col(c)).as(c) else col(c)): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }

  def setup(): Unit = {
    val t0 = System.nanoTime()
    val chunks = SpanChunker.chunk(spark, Corpus.docs(spark, input),
      Corpus.metas(spark, input), SpanChunker.Config()).persist()
    val r = Pipeline.fromChunks(spark, chunks, Corpus.gazetteer(spark, input))
    val base = Graph(
      r.nodes.select("entity_id", "name", "entity_type", "mention_count")
        .persist(StorageLevel.MEMORY_AND_DISK),
      r.edges.select("subj", "subj_type", "pred", "obj", "obj_type")
        .persist(StorageLevel.MEMORY_AND_DISK),
      r.mentionsFinal.select("chunk_id", "doc_id", "entity_name",
        "entity_type", "mention_count", "confidence")
        .persist(StorageLevel.MEMORY_AND_DISK))
    val perReplica = base.edges.count()
    // popularity ranks of one replica's entities, most mentioned first
    val ranked = base.nodes.orderBy(col("mention_count").desc, col("name").asc)
      .select("name").collect().map(_.getString(0))
    val n = math.ceil(targetEdges.toDouble / perReplica).toInt
    val prefixes = spark.range(n).select(format_string("r%02d ", col("id")).as("prefix"))
    graph = Graph(replicated(base.nodes, prefixes, Set("entity_id", "name")),
      replicated(base.edges, prefixes, Set("subj", "obj")),
      replicated(base.mentions, prefixes, Set("chunk_id", "doc_id", "entity_name")))
    Seq(base.nodes, base.edges, base.mentions).foreach(_.unpersist())
    r.unpersistAll(); chunks.unpersist()
    calls = spark.read.option("multiLine", true).json(s"$input/queries.json")
      .collect().map { c =>
        val prefix = f"r${c.getAs[Long]("replica") % n}%02d "
        Call(c.getAs[String]("kind"),
          c.getAs[scala.collection.Seq[Long]]("ranks").toSeq
            .map(k => prefix + ranked((k % ranked.length).toInt)),
          c.getAs[String]("type"))
      }.toIndexedSeq
    val t1 = System.nanoTime()
    // one call of each kind, so the calls' code is compiled before the
    // measured window
    calls.take(warmups).foreach(run)
    shape = Seq("replicas" -> n, "edges_per_replica" -> perReplica,
      "nodes_per_replica" -> ranked.length, "graph_build_s" -> (t1 - t0) / 1e9,
      "warmup_calls_s" -> (System.nanoTime() - t1) / 1e9)
  }

  private def run(c: Call): Array[Row] = {
    val Graph(nodes, edges, mentions) = graph
    c.kind match {
      case "ppr" => Ppr.search(spark, nodes, edges, mentions, c.names).collect()
      case "any" => GraphSearch.searchByEntitiesAny(spark, mentions, c.names).collect()
      case "all" => GraphSearch.searchByEntitiesAll(spark, mentions, c.names).collect()
      case "related" => GraphSearch.relatedEntities(spark, edges, c.names.head).collect()
      case "cooc" => GraphSearch.searchByCooccurrence(spark, mentions, c.names.head).collect()
      case "hybrid" => HybridSearch.rrf(
        GraphSearch.searchByEntitiesAny(spark, mentions, c.names, topK = 50),
        GraphSearch.searchByEntityType(mentions, c.tpe, topK = 50)).collect()
    }
  }

  private def layer(kind: String): String = kind match {
    case "ppr" => "retrieval.ppr"
    case "hybrid" => "retrieval.hybrid"
    case _ => "retrieval.graph"
  }

  def op(i: Int, t: Option[Tracer]): (Double, String) = {
    val c = calls(warmups + i % (calls.size - warmups))
    val (rows, s) = Util.seconds(t match {
      case None => run(c)
      case Some(tr) => tr.span("op", i)(
        tr.span(layer(c.kind), i)(run(c))(_.length.toLong))(_ => 0L)
    })
    results(i) = (c, rows)
    (s, Util.sha256(rows.map(_.toString).mkString("\n")))
  }

  /** What each call must return: Ppr on the driver-local path (the whole
    * edge table collected, seeds, reach and power iteration as serial
    * folds), the other kinds from the in-memory contracts. */
  private def expected(c: Call, ref: RetrievalReference): Seq[String] = c.kind match {
    case "ppr" => Ppr.search(spark, graph.nodes, graph.edges, graph.mentions, c.names,
      localEdgeCap = Long.MaxValue).collect().map(_.toString).toSeq
    case "any" => ref.any(c.names).map { case (k, m, s) => s"[$k,$m,$s]" }
    case "all" => ref.all(c.names).map { case (k, m, s) => s"[$k,$m,$s]" }
    case "related" => ref.related(c.names.head).map { case (e, d) => s"[$e,$d]" }
    case "cooc" => ref.cooccurrence(c.names.head).map { case (k, m, s) => s"[$k,$m,$s]" }
    case "hybrid" => ref.hybrid(c.names, c.tpe).map { case (k, s) => s"[$k,$s]" }
  }

  private var maxSubgraph = 0L

  def check(digests: IndexedSeq[String]): (Seq[(String, Any)], Set[Int]) = {
    val failed = scala.collection.mutable.Set.empty[Int]
    // every repeat of a call returns what its first run returned
    val byCall = digests.indices.filter(results.contains).groupBy(i => results(i)._1)
    val repeatMismatch = byCall.values.flatMap(is => is.filter(i => digests(i) != digests(is.head)))
    failed ++= repeatMismatch
    // every call against its reference
    val ref = new RetrievalReference(
      graph.mentions.select("chunk_id", "entity_name", "entity_type").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))),
      graph.edges.select("subj", "obj").collect().map(r => (r.getString(0), r.getString(1))))
    val want = byCall.keys.map(c => c -> expected(c, ref)).toMap
    val bad = results.collect {
      case (i, (c, rows)) if rows.map(_.toString).toSeq != want(c) => i
    }
    failed ++= bad
    // the Ppr subgraphs' size decides the power iteration's path
    byCall.keys.filter(_.kind == "ppr").foreach { c =>
      maxSubgraph = math.max(maxSubgraph,
        Ppr.inducedSubgraph(graph.edges, Ppr.seeds(graph.nodes, c.names)).count())
    }
    val kinds = results.values.groupBy(_._1.kind).map { case (k, v) => k -> v.size }
    (Seq("repeat_mismatches" -> repeatMismatch.size,
      "reference_mismatches" -> bad.size,
      "checked_calls" -> kinds,
      "empty_results" -> results.values.count(_._2.isEmpty)), failed.toSet)
  }

  def props: Seq[(String, Any)] = {
    val n = graph.edges.count()
    shape ++ Seq("edges" -> n, "nodes" -> graph.nodes.count(),
      "mentions" -> graph.mentions.count(),
      "ppr_branch" -> (if (n * 2 <= Ppr.LocalEdgeCap) "local" else "distributed"),
      "max_checked_ppr_subgraph_edges" -> maxSubgraph,
      "ppr_power_iteration" ->
        (if (maxSubgraph <= Ppr.LocalEdgeCap) "serial" else "distributed"))
  }

  def kernelDocs: IndexedSeq[(DocRow, DocMeta)] = IndexedSeq.empty
  def gazetteer: Seq[GazEntry] = Seq.empty
  def kernelNames: IndexedSeq[String] =
    graph.nodes.select("name").limit(4000).collect().map(_.getString(0)).toIndexedSeq
}

/** The GraphSearch and HybridSearch contracts evaluated with plain
  * collections over the mention rows (chunk_id, entity_name, entity_type)
  * and edge rows (subj, obj), in the orders the program promises. */
final class RetrievalReference(mentions: Seq[(String, String, String)],
    edges: Seq[(String, String)]) {

  private val chunksByName: Map[String, Seq[String]] =
    mentions.groupBy(_._2.toLowerCase).map { case (n, ms) => n -> ms.map(_._1).distinct }

  /** ANY-match: (chunk, matched, matched / |names|), score desc, chunk asc. */
  def any(names: Seq[String], topK: Int = 10): Seq[(String, Long, Double)] =
    names.map(_.toLowerCase).distinct
      .flatMap(w => chunksByName.getOrElse(w, Nil).map(_ -> w))
      .groupBy(_._1).toSeq
      .map { case (chunk, ws) => (chunk, ws.size.toLong, ws.size.toDouble / names.size) }
      .sortBy { case (chunk, _, score) => (-score, chunk) }
      .take(topK)

  /** ALL-match: chunks matching every name, chunk asc, score 1.0. */
  def all(names: Seq[String], topK: Int = 10): Seq[(String, Long, Double)] =
    any(names, Int.MaxValue).filter(_._2 == names.size)
      .map { case (chunk, m, _) => (chunk, m, 1.0) }.sortBy(_._1).take(topK)

  /** Chunks by the number of distinct entities of a type they mention. */
  def byType(tpe: String, topK: Int): Seq[(String, Long)] =
    mentions.filter(_._3 == tpe).groupBy(_._1).toSeq
      .map { case (chunk, ms) => (chunk, ms.map(_._2).distinct.size.toLong) }
      .sortBy { case (chunk, score) => (-score, chunk) }
      .take(topK)

  /** Reciprocal rank fusion of ANY-match and by-type at depth 50, k = 60,
    * weights 0.5 / 0.5. */
  def hybrid(names: Seq[String], tpe: String, topK: Int = 10): Seq[(String, Double)] = {
    def ranked(chunks: Seq[String]) = chunks.zipWithIndex.map { case (c, r) => c -> 0.5 / (60 + r + 1) }
    (ranked(any(names, 50).map(_._1)) ++ ranked(byType(tpe, 50).map(_._1)))
      .groupBy(_._1).toSeq
      .map { case (chunk, cs) => (chunk, cs.map(_._2).sum) }
      .sortBy { case (chunk, score) => (-score, chunk) }
      .take(topK)
  }

  /** Entities within two undirected hops of `name` (case-insensitive
    * matching), with their distance, distance asc then entity asc. */
  def related(name: String, depth: Int = 2): Seq[(String, Int)] = {
    val adj = (edges ++ edges.map(_.swap)).filter(e => e._1 != e._2).distinct
      .groupBy(_._1.toLowerCase).map { case (k, es) => k -> es.map(_._2).distinct }
    var seen = Set(name.toLowerCase)
    var frontier = Seq(name.toLowerCase)
    val out = Seq.newBuilder[(String, Int)]
    for (d <- 1 to depth) {
      frontier = frontier.flatMap(f => adj.getOrElse(f.toLowerCase, Nil)).distinct
        .filterNot(e => seen(e.toLowerCase))
      seen ++= frontier.map(_.toLowerCase)
      out ++= frontier.map(_ -> d)
    }
    out.result().sortBy { case (e, d) => (d, e) }
  }

  /** The top ten entities sharing at least two chunks with `name`, then
    * ANY-match over `name` and those entities. */
  def cooccurrence(name: String): Seq[(String, Long, Double)] = {
    val q = name.toLowerCase
    val target = chunksByName.getOrElse(q, Nil).toSet
    val co = mentions.filter(m => target(m._1) && m._2.toLowerCase != q)
      .groupBy(m => (m._2, m._3)).toSeq
      .map { case ((n, _), ms) => (n, ms.map(_._1).distinct.size) }
      .filter(_._2 >= 2)
      .sortBy { case (n, shared) => (-shared, n) }
      .take(10).map(_._1)
    if (co.isEmpty) Seq.empty else any(name +: co)
  }
}

/** The corpus tables the generator writes (kgbench/gen.py). */
object Corpus {
  def gazetteer(spark: SparkSession, input: String): Seq[GazEntry] = {
    import spark.implicits._
    spark.read.parquet(s"$input/gazetteer.parquet")
      .select(col("surface"), col("tpe")).as[GazEntry].collect().toSeq
  }
  def docs(spark: SparkSession, dir: String): Dataset[DocRow] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/docs").as[DocRow]
  }
  def metas(spark: SparkSession, dir: String): Dataset[DocMeta] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/meta").as[DocMeta]
  }
}
