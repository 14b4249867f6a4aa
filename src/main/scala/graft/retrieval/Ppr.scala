package graft.retrieval

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Personalized PageRank (reference retrieval/ppr_traversal.py:85-448) as a
  * driver-looped DataFrame power iteration — the reference itself pulls the
  * subgraph out of Neo4j and iterates client-side (ppr_traversal.py:199-259),
  * which is exactly Spark's model: scores ⋈ edges → groupBy dst → sum.
  *
  * Semantics preserved: damping 0.85, uniform seed init 1/|seeds|, per-step
  * share = d·score/outdeg along undirected induced edges (w = 1.0),
  * constant teleport mass (1−d)·seedShare added to each seed, dangling mass
  * DROPPED (the reference never redistributes it — the L1 normalization
  * that follows is what restores total mass, ppr_traversal.py:240-252),
  * convergence |Δ|₁ < 1e-6 or 20 iterations (settings 123-142).
  *
  * Scale posture: the iteration runs over the *bounded 2-hop induced
  * subgraph* around the seeds (ppr_traversal.py:261-335) — never the full
  * edge table — so each step is a small co-partitioned join;
  * localCheckpoint every 5 steps truncates the plan lineage.
  */
object Ppr {

  val Damping = 0.85
  val Tol = 1e-6
  val MaxIter = 20

  /** Seed entities: name substring match either direction against the node
    * table (ppr_traversal.py:158-164).
    */
  def seeds(nodes: DataFrame, queryEntities: Seq[String]): DataFrame = {
    val conds = queryEntities.map(_.toLowerCase).map { q =>
      lower(col("name")).contains(q) || lit(q).contains(lower(col("name")))
    }
    if (conds.isEmpty) nodes.select(col("name")).limit(0)
    else nodes.where(conds.reduce(_ || _)).select(col("name")).distinct()
  }

  /** Induced subgraph: undirected edges within `depth` hops of the seeds
    * (ppr_traversal.py:261-335), lowercased and deduplicated.
    *
    * Physical shape: the reach set comes from `GraphSearch.frontiers` —
    * one driver round-trip per hop with the frontier broadcast — so no
    * graph-wide undirected/distinct table is built or cached per call.
    * The returned frame is lazy: the narrow edge view semi-joined against
    * the broadcast reach set on both endpoints, deduplicated only after
    * that cut (the subgraph, not the edge table, is shuffled).
    */
  def inducedSubgraph(edges: DataFrame, seedDf: DataFrame,
      depth: Int = 2): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // deduplicated on the driver: over the LocalRelation `search` passes,
    // a projection collects without a job, a distinct would run one
    val seedKeys = seedDf.select(lower(col("name"))).collect()
      .map(_.getString(0)).toSet
    val reach = seedKeys ++
      GraphSearch.frontiers(edges, seedKeys).take(depth).flatMap(_.map(_._2))
    val r = reach.toSeq.toDF("e")
    GraphSearch.undirected(edges)
      .select(lower(col("src")).as("src"), lower(col("dst")).as("dst"))
      .join(broadcast(r.select(col("e").as("e1"))), col("src") === col("e1"), "left_semi")
      .join(broadcast(r.select(col("e").as("e2"))), col("dst") === col("e2"), "left_semi")
      .distinct()
  }

  /** Edge cap under which the induced subgraph is pulled to the driver and
    * iterated locally — the reference's own execution model
    * (ppr_traversal.py:199-259 pulls the subgraph out of Neo4j and runs the
    * power iteration client-side). The subgraph is depth-bounded around the
    * seeds, so this is the common case; bigger subgraphs fall back to the
    * distributed DataFrame loop below with identical math.
    */
  val LocalEdgeCap = 200000L

  /** Serial power iteration — the exact contract, plain Scala. */
  def serialScores(edges: Seq[(String, String)],
      seeds: Set[String]): Map[String, Double] = {
    if (seeds.isEmpty) return Map.empty
    val verts = (edges.flatMap(e => Seq(e._1, e._2)) ++ seeds).distinct.sorted
    val outEdges = edges.groupBy(_._1)
    val inEdges = edges.groupBy(_._2)
    val outdeg = outEdges.map { case (k, v) => k -> v.size }
    val seedShare = 1.0 / seeds.size
    var score = verts.map(v =>
      v -> (if (seeds(v)) seedShare else 0.0)).toMap
    var delta = Double.MaxValue
    var it = 0
    while (it < MaxIter && delta >= Tol) {
      // dangling mass is dropped, not redistributed: the reference only adds
      // the constant (1-d) teleport to the seeds and then renormalizes
      // (ppr_traversal.py:240-252)
      val teleport = 1.0 - Damping
      val raw = verts.map { v =>
        val inflow = inEdges.getOrElse(v, Seq.empty)
          .map { case (u, _) => Damping * score(u) / outdeg(u) }.sum
        v -> (inflow + (if (seeds(v)) teleport * seedShare else 0.0))
      }.toMap
      val l1 = math.max(raw.values.map(math.abs).sum, 1e-12)
      val next = raw.map { case (k, v) => k -> v / l1 }
      delta = verts.map(v => math.abs(next(v) - score(v))).sum
      score = next
      it += 1
    }
    score
  }

  /** Vertex-count bound under which the distributed power iteration ships
    * the score vector to executors as a broadcast each step instead of
    * shuffle-joining it. The score vector of the depth-bounded induced
    * subgraph is (entity, double) — ~50 bytes/row, so the default 2M rows
    * ≈ 100 MB per broadcast, well inside executor memory. The edge table
    * (the side that actually scales with the graph) is never broadcast and
    * never re-shuffled: it is hash-partitioned by dst ONCE before the loop,
    * so each iteration is one pass over the edge partitions (broadcast hash
    * join + partition-local aggregation, zero exchanges) plus one pass over
    * the vertex table. Beyond the cap the loop falls back to shuffle joins
    * with identical math.
    */
  val BroadcastVertexCap = 2000000L

  /** Power iteration → (entity, ppr) scores, descending. */
  def scores(spark: SparkSession, subgraph: DataFrame,
      seedDf: DataFrame, localEdgeCap: Long = LocalEdgeCap,
      broadcastVertexCap: Long = BroadcastVertexCap): DataFrame = {
    import spark.implicits._
    // ONE bounded collect per input decides the path and, under the cap,
    // already holds the data (was a count then a collect on each). Seeds
    // are deduplicated on the driver, as in inducedSubgraph.
    val bound = math.min(localEdgeCap, Int.MaxValue - 1L).toInt + 1
    val seedRows = seedDf.select(lower(col("name"))).limit(bound).collect()
    val seeds = seedRows.map(_.getString(0)).distinct
    if (seeds.isEmpty) return Seq.empty[(String, Double)].toDF("entity", "ppr")
    val allSeeds = seedRows.length < bound
    val edgeRows = subgraph.select(col("src"), col("dst")).limit(bound).collect()
    if (edgeRows.length < bound && allSeeds) {
      // sorted so the serial iteration's double-sum order is independent of
      // partition collect order (bit-reproducible across runs and vs the
      // serial oracle)
      val edges = edgeRows.map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      return serialScores(edges, seeds.toSet).toSeq.toDF("entity", "ppr")
        .orderBy(col("ppr").desc, col("entity").asc)
    }
    val seedSet = seedDf.select(lower(col("name")).as("entity")).distinct()
    val nSeeds = if (allSeeds) seeds.length.toLong else seedSet.count()

    // truncate the loop-invariant inputs' lineage BEFORE iterating: the
    // caller's subgraph/seed plans can embed the entire upstream construct
    // DAG, and every iteration's actions would re-stringify that tree into
    // the SQL-execution event (measured: minutes of driver CPU in
    // generateTreeString at 20 iterations — the jobs themselves are tiny)
    val sub = subgraph.select(col("src"), col("dst")).localCheckpoint(true)
    val edgeCount = sub.count()

    // scope the loop's physical knobs to the data, not the session: the
    // induced subgraph is orders of magnitude smaller than the corpus, so
    // session-sized shuffles (32+ partitions) and AQE's per-stage re-plan
    // latency dominate 20 tiny iterations. Both settings are restored after
    // the loop (measured ~2x on the forced-distributed kg_ppr_dist gate
    // query; at real scale nEdges sizes the partition count back up).
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions", "200")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val parts = math.max(2, math.min(spark.sparkContext.defaultParallelism,
      (edgeCount / 50000L).toInt + 1))
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {

    val seedsCk = seedSet.localCheckpoint(true)
    val vertices = sub.select(col("src").as("entity"))
      .union(sub.select(col("dst").as("entity")))
      .union(seedsCk.select(col("entity")))
      .distinct().localCheckpoint(true)
    val outdeg = sub.groupBy(col("src").as("entity"))
      .agg(count(lit(1)).as("outdeg"))

    val seedShare = 1.0 / nSeeds
    // constant (1-d) teleport to the seeds only; dangling mass is dropped
    // and the per-step L1 normalization restores total mass — the reference
    // semantics (ppr_traversal.py:240-252). Also saves one driver action
    // per iteration vs computing a dangling-mass aggregate.
    val teleport = 1.0 - Damping

    val nVerts = vertices.count()
    if (nVerts <= broadcastVertexCap) {
      // Broadcast-loop: per-edge damping/outdeg factor attached once, edge
      // table hash-partitioned by dst once — each iteration's propagate +
      // aggregate then runs WITHOUT any exchange (the broadcast hash join
      // preserves the edge scan's dst-partitioning, which the groupBy
      // reuses), and the tiny score vector is what travels. One
      // materialization per step (the fused raw/prev frame) + two scalar
      // aggregates over it replace the previous ~6 shuffle stages and 3
      // wide actions per step — measured ~4x on the forced-distributed
      // kg_ppr_dist gate query.
      val edgeFactor = sub
        .join(outdeg, sub("src") === outdeg("entity"))
        .select(col("src"), col("dst"),
          (lit(Damping) / col("outdeg")).as("factor"))
        .repartition(col("dst"))
        .localCheckpoint(true)

      // the loop's state frame: (entity, teleport_add, raw, prev) where
      // raw is the UN-normalized score of the latest step and prev the
      // normalized score of the one before. The per-step L1 scalar enters
      // every plan as a COLUMN from a one-row broadcast LocalRelation, not
      // as a literal: a changing literal would generate different codegen
      // source each iteration and defeat the codegen cache — measured as
      // ~2/3 of the cold-run wall clock on the kg_ppr_dist gate query
      // (Janino recompiling 20 nearly-identical stages).
      var l1m = 1.0 // initial scores are seed-normalized by construction
      var joined = vertices
        .join(seedsCk.withColumn("is_seed", lit(true)), Seq("entity"), "left")
        .select(col("entity"),
          when(col("is_seed"), lit(teleport * seedShare))
            .otherwise(lit(0.0)).as("teleport_add"),
          when(col("is_seed"), lit(seedShare)).otherwise(lit(0.0)).as("raw"),
          lit(0.0).as("prev"))
        .localCheckpoint(true)
      var it = 0
      var delta = Double.MaxValue
      var prevCk: DataFrame = null
      val trace = sys.env.contains("GRAFT_PPR_TRACE")
      while (it < MaxIter && delta >= Tol) {
        val itT0 = System.nanoTime()
        val l1df = broadcast(Seq(l1m).toDF("l1"))
        val cur = joined.crossJoin(l1df)
          .select(col("entity").as("src_e"),
            (col("raw") / col("l1")).as("score"))
        val propagated = edgeFactor
          .join(broadcast(cur), col("src") === col("src_e"))
          .groupBy(col("dst").as("entity"))
          .agg(sum(col("score") * col("factor")).as("inflow"))
        // ONE driver round-trip per step (was three: eager checkpoint +
        // L1 aggregate + delta aggregate — 60 scheduled jobs over 20
        // iterations, pure fixed cost at this frame size). The step's L1
        // rides along as a global-window column of the state frame, the
        // checkpoint is LAZY, and the single (delta, l1) aggregate both
        // materializes the checkpoint and drives the convergence test.
        val wAll = org.apache.spark.sql.expressions.Window
          .rowsBetween(Long.MinValue, Long.MaxValue)
        val next = joined.crossJoin(l1df)
          .select(col("entity"), col("teleport_add"),
            (col("raw") / col("l1")).as("prev"))
          .join(broadcast(propagated), Seq("entity"), "left")
          .select(col("entity"), col("teleport_add"),
            (coalesce(col("inflow"), lit(0.0)) + col("teleport_add"))
              .as("raw"),
            col("prev"))
          .withColumn("l1n",
            greatest(sum(abs(col("raw"))).over(wAll), lit(1e-12)))
          .localCheckpoint(false)
        val row = next.agg(
          sum(abs(col("raw") / col("l1n") - col("prev"))).as("delta"),
          max(col("l1n")).as("l1")).head()
        delta = row.getDouble(0)
        if (prevCk != null) prevCk.unpersist()
        prevCk = joined
        joined = next
        l1m = row.getDouble(1)
        it += 1
        if (trace) println(f"ppr-bcast it=$it%2d delta=$delta%.3e " +
          f"${(System.nanoTime() - itT0) / 1e9}%.3f s")
      }
      return joined.crossJoin(broadcast(Seq(l1m).toDF("l1")))
        .select(col("entity"), (col("raw") / col("l1")).as("ppr"))
        .orderBy(col("ppr").desc, col("entity").asc)
    }

    // Shuffle-loop fallback for vertex sets too large to broadcast:
    // identical math, score vector shuffle-joined each step.
    val outdegCk = outdeg.localCheckpoint(true)
    var cur = vertices
      .join(seedsCk.withColumn("is_seed", lit(true)), Seq("entity"), "left")
      .select(col("entity"),
        when(col("is_seed"), lit(seedShare)).otherwise(lit(0.0)).as("score"))
      .persist()

    var it = 0
    var delta = Double.MaxValue
    while (it < MaxIter && delta >= Tol) {
      val flowing = cur.join(outdegCk, Seq("entity"), "inner")
        .select(col("entity"), (col("score") / col("outdeg")).as("share"))
      val propagated = sub
        .join(flowing, sub("src") === flowing("entity"))
        .groupBy(col("dst").as("entity"))
        .agg(sum(col("share") * lit(Damping)).as("inflow"))
      val next0 = vertices
        .join(propagated, Seq("entity"), "left")
        .join(seedsCk.withColumn("is_seed", lit(true)), Seq("entity"), "left")
        .select(col("entity"),
          (coalesce(col("inflow"), lit(0.0)) +
            when(col("is_seed"), lit(teleport * seedShare))
              .otherwise(lit(0.0))).as("score"))
      val l1 = next0.agg(sum(abs(col("score")))).head().getDouble(0)
      val next = next0.select(col("entity"),
        (col("score") / lit(math.max(l1, 1e-12))).as("score"))
        .localCheckpoint()
      delta = next.join(cur.withColumnRenamed("score", "prev"), Seq("entity"))
        .agg(sum(abs(col("score") - col("prev")))).head().getDouble(0)
      cur.unpersist()
      cur = next.persist()
      it += 1
    }
    vertices.unpersist()
    cur.select(col("entity"), col("score").as("ppr"))
      .orderBy(col("ppr").desc, col("entity").asc)

    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  /** Chunk scoring: score(chunk) = Σ ppr(entity)·mention_confidence over
    * the top-`entityCap` PPR entities (ppr_traversal.py:337-425, cap 50).
    * The score is rounded to 6dp BEFORE the ordering cut so the top-k set
    * is deterministic across summation orders (distributed double sums are
    * order-dependent in the last bits; ties then break on chunk_id).
    */
  def scoreChunks(mentions: DataFrame, pprScores: DataFrame,
      entityCap: Int = 50, topK: Int = 10): DataFrame = {
    // the top-`entityCap` cut orders by the score ROUNDED to 9dp (ties then
    // on entity): distributed power iteration cannot promise the serial
    // oracle's exact double at the #50 boundary (sum order + factored
    // damping differ in ULPs), and an unrounded cut let a boundary entity
    // flip between engine and oracle. 9dp is far above the ~1e-12 relative
    // engine/oracle divergence and far below real inter-entity gaps. The
    // UNROUNDED score still feeds the chunk sum below.
    val top = broadcast(pprScores
      .orderBy(round(col("ppr"), 9).desc, col("entity").asc)
      .limit(entityCap))
    mentions
      .join(top, lower(col("entity_name")) === col("entity"))
      .groupBy(col("chunk_id"))
      .agg(round(sum(col("ppr") * col("confidence")), 6).as("score"))
      .orderBy(col("score").desc, col("chunk_id").asc)
      .limit(topK)
  }

  /** End-to-end PPR search (ppr_traversal.py:85-140).
    *
    * When the whole edge table fits under `localEdgeCap` (the common case:
    * the reference itself pulls the graph out of Neo4j and runs seeds /
    * reach / power iteration client-side, ppr_traversal.py:199-335), it is
    * collected ONCE and everything up to chunk scoring runs as driver-side
    * folds — one scan of nodes, one of edges, instead of ~15 distinct
    * join/distinct plan shapes whose planning+codegen dominates wall time
    * on small graphs. Chunk scoring stays distributed (mentions scale with
    * the corpus; the depth-bounded subgraph does not). Larger edge tables
    * take the distributed path with identical math: `inducedSubgraph`'s
    * per-hop frontier round-trips, then `scores`, whose bounded collect
    * still iterates serially when the subgraph is under the cap. Neither
    * path persists anything, so a call leaves no cached blocks behind.
    */
  def search(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
      mentions: DataFrame, queryEntities: Seq[String],
      topK: Int = 10, localEdgeCap: Long = LocalEdgeCap): DataFrame = {
    import spark.implicits._
    // seed names are a handful of substring matches: one collect serves
    // both paths (downstream re-reads hit a LocalRelation, not the nodes)
    val seedNames = seeds(nodes, queryEntities).collect().map(_.getString(0))
    if (edges.count() * 2 <= localEdgeCap) {
      val seedKeys = seedNames.map(_.toLowerCase).toSet
      // mirror GraphSearch.undirected + inducedSubgraph exactly: both
      // directions, raw src != dst, then lowercase
      val undL = edges.select(col("subj"), col("obj")).collect()
        .iterator.flatMap { r =>
          val (a, b) = (r.getString(0), r.getString(1))
          Seq((a, b), (b, a))
        }
        .filter(e => e._1 != e._2)
        .map(e => (e._1.toLowerCase, e._2.toLowerCase))
        .toVector
      var reach = seedKeys
      for (_ <- 1 to 2)
        reach = reach ++ undL.iterator.filter(e => reach(e._1)).map(_._2)
      val sub = undL.filter(e => reach(e._1) && reach(e._2)).distinct.sorted
      val ppr = serialScores(sub, seedKeys).toSeq
        .sortBy { case (e, s) => (-s, e) }.toDF("entity", "ppr")
      scoreChunks(mentions, ppr, topK = topK)
    } else {
      val s = seedNames.toSeq.toDF("name")
      val ppr = scores(spark, inducedSubgraph(edges, s), s, localEdgeCap)
      scoreChunks(mentions, ppr, topK = topK)
    }
  }
}
