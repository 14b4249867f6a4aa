package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.retrieval.{ContextExpansion, GraphSearch, HybridSearch, Ppr, VectorSearch}

class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // chunk → entity mentions over 4 chunks
  private lazy val mentions = Seq(
    ("c1", "d1", "acme", "ORGANIZATION", 0, 2, 0.8),
    ("c1", "d1", "bob", "PERSON", 10, 1, 0.8),
    ("c2", "d1", "acme", "ORGANIZATION", 0, 1, 0.8),
    ("c2", "d1", "carol", "PERSON", 5, 1, 0.8),
    ("c3", "d2", "bob", "PERSON", 0, 3, 0.8),
    ("c3", "d2", "carol", "PERSON", 8, 1, 0.8),
    ("c4", "d2", "zeta", "ORGANIZATION", 0, 1, 0.8)
  ).toDF("chunk_id", "doc_id", "entity_name", "entity_type", "position",
    "mention_count", "confidence")

  private lazy val edges = Seq(
    ("acme", "ceo_of", "bob"),
    ("bob", "knows", "carol"),
    ("carol", "works_at", "zeta")
  ).toDF("subj", "pred", "obj")

  // the same graph plus stored-case variants: "Acme" -> "ACME" differs
  // raw but collapses after lowercasing (a lowercase self-loop the raw
  // src != dst filter keeps), and bob/carol also appear as BOB/Carol
  private lazy val mixedEdges = edges.union(Seq(
    ("Acme", "alias_of", "ACME"),
    ("ACME", "owns", "Bolt"),
    ("BOB", "knows", "Carol"),
    ("zeta", "owns", "Yard")
  ).toDF("subj", "pred", "obj"))

  private lazy val mixedMentions = mentions.union(Seq(
    ("c5", "d3", "ACME", "ORGANIZATION", 0, 1, 0.9),
    ("c5", "d3", "Bolt", "PRODUCT", 4, 1, 0.7),
    ("c4", "d2", "Carol", "PERSON", 3, 1, 0.6)
  ).toDF("chunk_id", "doc_id", "entity_name", "entity_type", "position",
    "mention_count", "confidence"))

  private lazy val nodes = Seq(("e1", "acme", "ORGANIZATION"),
    ("e2", "bob", "PERSON"), ("e3", "carol", "PERSON"),
    ("e4", "zeta", "ORGANIZATION")).toDF("entity_id", "name", "entity_type")

  private lazy val mixedNodes = nodes.union(Seq(("e5", "ACME", "ORGANIZATION"),
    ("e6", "Bolt", "PRODUCT"), ("e7", "Yard", "LOCATION"))
    .toDF("entity_id", "name", "entity_type"))

  /** Plain-collections `Ppr.inducedSubgraph`: both orientations, raw
    * src != dst, lowercase, `depth` hops from the seeds, distinct. */
  private def inducedReference(es: Seq[(String, String)], seeds: Set[String],
      depth: Int): Set[(String, String)] = {
    val und = (es ++ es.map(_.swap)).filter(e => e._1 != e._2)
      .map(e => (e._1.toLowerCase, e._2.toLowerCase))
    var reach = seeds.map(_.toLowerCase)
    for (_ <- 1 to depth) reach = reach ++ und.filter(e => reach(e._1)).map(_._2)
    und.filter(e => reach(e._1) && reach(e._2)).toSet
  }

  test("ANY/ALL entity search scores and relational division") {
    val any = GraphSearch.searchByEntitiesAny(spark, mentions,
      Seq("acme", "bob")).collect()
      .map(r => r.getAs[String]("chunk_id") -> r.getAs[Double]("score")).toMap
    assert(any === Map("c1" -> 1.0, "c2" -> 0.5, "c3" -> 0.5))
    val all = GraphSearch.searchByEntitiesAll(spark, mentions,
      Seq("acme", "bob")).collect().map(_.getAs[String]("chunk_id"))
    assert(all.toSeq === Seq("c1"))
  }

  test("entity type search and co-occurrence") {
    val byType = GraphSearch.searchByEntityType(mentions, "PERSON").collect()
      .map(r => r.getAs[String]("chunk_id") -> r.getAs[Long]("score")).toMap
    assert(byType === Map("c1" -> 1L, "c2" -> 1L, "c3" -> 2L))
    val co = GraphSearch.cooccurringEntities(mentions, "bob", minShared = 1)
      .collect().map(r => r.getAs[String]("entity_name")
        -> r.getAs[Long]("shared_chunks")).toMap
    assert(co === Map("acme" -> 1L, "carol" -> 1L))
  }

  test("bounded BFS related entities with min distance") {
    val rel = GraphSearch.relatedEntities(spark, edges, "acme", depth = 2)
      .collect().map(r => r.getAs[String]("entity") -> r.getAs[Int]("distance")).toMap
    assert(rel === Map("bob" -> 1, "carol" -> 2))
    val rel3 = GraphSearch.relatedEntities(spark, edges, "acme", depth = 3)
      .collect().map(r => r.getAs[String]("entity") -> r.getAs[Int]("distance")).toMap
    assert(rel3 === Map("bob" -> 1, "carol" -> 2, "zeta" -> 3))
    // case-insensitive matching, stored spellings out: the seed's own
    // variants (Acme, ACME) never count as related, both spellings of a
    // name first reached at one hop stay, and a name already reached is
    // not reported again in another spelling (BOB after bob)
    def related(d: Int) = GraphSearch.relatedEntities(spark, mixedEdges, "acme",
      depth = d).collect().map(r => r.getAs[String]("entity") -> r.getAs[Int]("distance"))
    assert(related(2).toSeq === Seq("Bolt" -> 1, "bob" -> 1, "Carol" -> 2, "carol" -> 2))
    assert(related(3).toMap === Map("Bolt" -> 1, "bob" -> 1, "Carol" -> 2,
      "carol" -> 2, "zeta" -> 3))
    assert(GraphSearch.relatedEntities(spark, mixedEdges, "ACME", depth = 1)
      .collect().map(_.getString(0)).toSet === Set("Bolt", "bob"))
  }

  test("shortest path length bounded at maxHops") {
    val p = GraphSearch.shortestPathLength(spark, edges, "acme", "zeta", 3)
      .collect()
    assert(p.length === 1 && p.head.getAs[Int]("path_length") === 3)
    assert(GraphSearch.shortestPathLength(spark, edges, "acme", "zeta", 2)
      .collect().isEmpty)
    def len(a: String, b: String, hops: Int) = GraphSearch.shortestPathLength(
      spark, mixedEdges, a, b, hops).collect().map(_.getAs[Int]("path_length")).toSeq
    assert(len("ACME", "bolt", 3) === Seq(1))
    assert(len("Acme", "CAROL", 3) === Seq(2)) // acme-bob-carol
    assert(len("acme", "Yard", 3).isEmpty)     // 4 hops away
    assert(len("acme", "Yard", 4) === Seq(4))
    assert(len("Acme", "ACME", 3).isEmpty)     // same name, not a path
  }

  test("document similarity graph by shared entities") {
    val sim = GraphSearch.documentSimilarityGraph(mentions, "d1", minShared = 1)
      .collect().map(r => r.getAs[String]("doc_id")
        -> r.getAs[Long]("shared_entities")).toMap
    assert(sim === Map("d2" -> 2L)) // bob + carol shared
  }

  test("fulltext fallback and query NER") {
    val chunks = Seq(("c1", "Acme acquired Zeta last year"),
      ("c2", "nothing relevant here")).toDF("chunk_id", "text")
    val ft = GraphSearch.fulltextSearch(chunks, "acme zeta acquisition")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(ft.toSeq === Seq(("c1", 2)))
    assert(GraphSearch.entitiesFromQuery("What did Acme Corp tell Bob?") ===
      Seq("Acme Corp", "Bob"))
  }

  test("PPR matches a serial power iteration and ranks seeds first") {
    val seedDf = Seq("acme").toDF("name")
    val sub = Ppr.inducedSubgraph(edges, seedDf, depth = 3).cache()
    val got = Ppr.scores(spark, sub, seedDf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // BOTH distributed loop variants (forced by localEdgeCap=0) must agree
    // with the driver-local fast path to numerical precision: the
    // broadcast-score loop (vertex count under BroadcastVertexCap) and the
    // shuffle-join fallback (forced by broadcastVertexCap=0)
    for (bcastCap <- Seq(Ppr.BroadcastVertexCap, 0L)) {
      val distributed = Ppr.scores(spark, sub, seedDf, localEdgeCap = 0L,
        broadcastVertexCap = bcastCap)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      got.foreach { case (k, v) =>
        assert(math.abs(distributed(k) - v) < 1e-9,
          s"$k (cap=$bcastCap): local=$v distributed=${distributed(k)}")
      }
    }

    // serial oracle: same contract, plain Scala
    val und = Seq("acme" -> "bob", "bob" -> "acme", "bob" -> "carol",
      "carol" -> "bob", "carol" -> "zeta", "zeta" -> "carol")
    val verts = und.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val outdeg = und.groupBy(_._1).map { case (k, v) => k -> v.size }
    var score = verts.map(v => v -> (if (v == "acme") 1.0 else 0.0)).toMap
    var delta = 1.0
    var it = 0
    while (it < Ppr.MaxIter && delta >= Ppr.Tol) {
      val inflow = verts.map { v =>
        v -> und.filter(_._2 == v)
          .map { case (u, _) => Ppr.Damping * score(u) / outdeg(u) }.sum
      }.toMap
      // reference semantics (ppr_traversal.py:240-252): constant (1-d)
      // teleport to seeds, dangling mass dropped (L1 re-norm restores mass)
      val teleport = 1.0 - Ppr.Damping
      val raw = verts.map(v =>
        v -> (inflow(v) + (if (v == "acme") teleport else 0.0))).toMap
      val l1 = raw.values.map(math.abs).sum
      val next = raw.map { case (k, v) => k -> v / math.max(l1, 1e-12) }
      delta = verts.map(v => math.abs(next(v) - score(v))).sum
      score = next
      it += 1
    }
    verts.foreach { v =>
      assert(math.abs(got(v) - score(v)) < 1e-9,
        s"$v: engine=${got(v)} oracle=${score(v)}")
    }
    // with damping 0.85 the seed's sole neighbor legitimately out-scores
    // the seed (acme pushes ALL its mass to bob; bob returns half) — assert
    // the engine agrees with the oracle's ranking, and mass decays down
    // the chain away from the seed side
    assert(got.maxBy(_._2)._1 === score.maxBy(_._2)._1)
    assert(got("bob") > got("acme") && got("acme") > got("carol") &&
      got("carol") > got("zeta"))
  }

  test("PPR search: driver-local fast path == forced-distributed path") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    for ((ns, es, ms) <- Seq((nodes, edges, mentions),
        (mixedNodes, mixedEdges, mixedMentions))) {
      val local = rows(Ppr.search(spark, ns, es, ms, Seq("acme")))
      // cap 0: distributed reach AND power iteration; cap 2|E|-1: the
      // distributed reach with the subgraph iterated serially
      for (cap <- Seq(0L, es.count() * 2 - 1))
        assert(rows(Ppr.search(spark, ns, es, ms, Seq("acme"),
          localEdgeCap = cap)) === local, s"cap=$cap")
      assert(local.nonEmpty)
    }
  }

  test("PPR induced subgraph == plain-collections reference, mixed case") {
    val es = mixedEdges.select("subj", "obj").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    for (seeds <- Seq(Seq("acme"), Seq("ACME", "Acme"), Seq("yard"), Seq("nobody"));
         depth <- 1 to 3) {
      val got = Ppr.inducedSubgraph(mixedEdges, seeds.toDF("name"), depth)
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(got.length === got.toSet.size, s"$seeds/$depth: duplicate edges")
      assert(got.toSet === inducedReference(es, seeds.toSet, depth), s"$seeds/$depth")
    }
    // the collapsed alias survives as a lowercase self-loop
    assert(inducedReference(es, Set("acme"), 1)("acme" -> "acme"))
  }

  test("retrieval calls leave no persisted blocks behind") {
    // per-call, not global, accounting: only RDDs created after the call
    // starts can be charged to it (blocks other suites leave, or the
    // ContextCleaner frees meanwhile, cannot move the verdict)
    val sc = spark.sparkContext
    def leftover(call: => Unit): Set[Int] = {
      val firstId = sc.emptyRDD[Int].id
      call
      (sc.getPersistentRDDs.keySet ++ sc.getRDDStorageInfo.map(_.id))
        .filter(_ > firstId).toSet
    }
    val es = mixedEdges.count()
    val calls = Seq[(String, () => Any)](
      "Ppr.search local" -> (() => Ppr.search(spark, mixedNodes, mixedEdges,
        mixedMentions, Seq("acme")).collect()),
      "Ppr.search distributed" -> (() => Ppr.search(spark, mixedNodes, mixedEdges,
        mixedMentions, Seq("acme"), localEdgeCap = es * 2 - 1).collect()),
      "relatedEntities" -> (() => GraphSearch.relatedEntities(spark, mixedEdges,
        "acme", depth = 3).collect()),
      "searchByCooccurrence" -> (() => GraphSearch.searchByCooccurrence(spark,
        mixedMentions, "bob", minShared = 1).collect()))
    calls.foreach { case (name, call) =>
      val left = leftover(call())
      assert(left.isEmpty, s"$name left persisted RDDs $left")
    }
  }

  test("PPR chunk scoring weights mentions by entity mass") {
    val ppr = Seq(("acme", 0.5), ("bob", 0.3), ("carol", 0.15), ("zeta", 0.05))
      .toDF("entity", "ppr")
    val scored = Ppr.scoreChunks(mentions, ppr).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(scored("c1") - 0.8 * (0.5 + 0.3)) < 1e-12)
    assert(scored("c1") > scored("c2") && scored("c2") > scored("c3") &&
      scored("c3") > scored("c4"))
  }

  test("vector search: threshold, temporal filter, similar chunks") {
    val chunks = Seq(
      ("c1", "d1", 0, Seq(1.0f, 0.0f), true, 2024, "Q1"),
      ("c2", "d1", 1, Seq(0.9f, 0.1f), true, 2024, "Q2"),
      ("c3", "d2", 0, Seq(0.0f, 1.0f), true, 2024, "Q1"),
      ("c4", "d2", 1, Seq(1.0f, 0.05f), false, 2024, "Q1")
    ).toDF("chunk_id", "doc_id", "chunk_index", "embedding", "is_current",
      "fiscal_year", "fiscal_quarter")
    val hits = VectorSearch.search(chunks, Seq(1.0, 0.0), topK = 3)
      .collect().map(_.getString(0))
    assert(hits.toSeq === Seq("c1", "c2")) // c3 below threshold, c4 superseded
    import graft.temporal.Temporal._
    val q1Only = VectorSearch.search(chunks, Seq(1.0, 0.0), topK = 3,
      temporal = Some(TemporalFilter(PointInTime, fiscalYear = Some(2024),
        fiscalQuarter = Some("Q1")))).collect().map(_.getString(0))
    assert(q1Only.toSeq === Seq("c1"))
    // reference parity (vector_search.py:183-255): candidates filter
    // is_current = true — c4 (superseded, despite the best cosine) must
    // NOT appear — and exclude_same_document defaults TRUE, dropping c2
    val sim = VectorSearch.findSimilarChunks(chunks, "c1", topK = 2)
      .collect().map(_.getString(0))
    assert(sim.toSeq === Seq("c3"))
    val simSameDoc = VectorSearch.findSimilarChunks(chunks, "c1", topK = 2,
      excludeSameDocument = false).collect().map(_.getString(0))
    assert(simSameDoc.toSeq === Seq("c2", "c3")) // still no superseded c4
    val ctx = VectorSearch.searchWithContext(
      VectorSearch.search(chunks, Seq(1.0, 0.0), topK = 1), chunks)
      .collect().map(r => (r.getAs[String]("chunk_id"), r.getAs[String]("neighbor_id")))
    assert(ctx.toSeq === Seq(("c1", "c2")))
  }

  test("RRF fusion matches the reference formula and alpha extremes") {
    val vector = Seq(("c1", 0.9), ("c2", 0.8), ("c3", 0.7)).toDF("chunk_id", "score")
    val graph = Seq(("c2", 5.0), ("c4", 3.0)).toDF("chunk_id", "score")
    val fused = HybridSearch.rrf(vector, graph, topK = 10).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    def rrfScore(vRank: Option[Int], gRank: Option[Int]) =
      vRank.map(r => 0.5 / (60 + r)).getOrElse(0.0) +
        gRank.map(r => 0.5 / (60 + r)).getOrElse(0.0)
    assert(math.abs(fused("c2") - rrfScore(Some(2), Some(1))) < 1e-12)
    assert(math.abs(fused("c1") - rrfScore(Some(1), None)) < 1e-12)
    assert(fused("c2") > fused("c1")) // in both lists beats top-of-one
    // the alpha 0/1 short-circuits must emit the SAME (chunk_id, rrf_score)
    // schema as the fused path (round-5 review finding: they used to return
    // the input frame with its original `score` column)
    val vOnly = HybridSearch.rrf(vector, graph, topK = 2, alpha = 1.0)
    assert(vOnly.columns.toSeq === Seq("chunk_id", "rrf_score"))
    assert(vOnly.collect().map(_.getString(0)).toSeq === Seq("c1", "c2"))
    val gOnly = HybridSearch.rrf(vector, graph, topK = 2, alpha = 0.0)
    assert(gOnly.columns.toSeq === Seq("chunk_id", "rrf_score"))
    assert(gOnly.collect().map(_.getString(0)).toSeq === Seq("c2", "c4"))
    val ex = HybridSearch.explainResults(vector, graph).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ex === Map("both" -> 1L, "vector_only" -> 2L, "graph_only" -> 1L))
  }

  test("context expansion: neighbors, entity details, related chunks") {
    val chunks = Seq(
      ("c1", "d1", 0, "first chunk text"),
      ("c2", "d1", 1, "second chunk text"),
      ("c3", "d2", 0, "other doc text"),
      ("c4", "d2", 1, "fourth chunk")
    ).toDF("chunk_id", "doc_id", "chunk_index", "text")
    val results = Seq(("c2", 0.9)).toDF("chunk_id", "score")
    val n = ContextExpansion.withNeighbors(chunks, results).head()
    assert(n.getAs[String]("prev_preview") === "first chunk text")
    assert(n.getAs[String]("next_preview") == null)
    val det = ContextExpansion.withEntityDetails(mentions,
      Seq(("c1", 1.0)).toDF("chunk_id", "score")).head()
    val names = det.getSeq[org.apache.spark.sql.Row](2).map(_.getAs[String]("name"))
    assert(names === Seq("acme", "bob")) // ordered by (conf, mention_count) desc
    val rel = ContextExpansion.relatedChunks(mentions,
      Seq(("c1", 1.0)).toDF("chunk_id", "score")).collect()
      .map(r => (r.getAs[String]("related_id"), r.getAs[Long]("shared"))).toMap
    assert(rel === Map("c2" -> 1L, "c3" -> 1L)) // c2 shares acme, c3 shares bob
    val dc = ContextExpansion.documentContext(chunks, mentions).collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[Long]("n_chunks")).toMap
    assert(dc === Map("d1" -> 2L, "d2" -> 2L))
  }

  test("co-occurrence search composes into the ANY re-search") {
    // bob co-occurs with acme (c1) and carol (c3) -> ANY search over
    // {bob, acme, carol}: c1 matches 2/3, c2 2/3, c3 2/3, c4 0
    val got = GraphSearch.searchByCooccurrence(spark, mentions, "bob",
      minShared = 1).collect()
      .map(r => r.getAs[String]("chunk_id") -> r.getAs[Double]("score")).toMap
    assert(got.keySet === Set("c1", "c2", "c3"))
    got.values.foreach(s => assert(math.abs(s - 2.0 / 3) < 1e-12))
    // unknown entity -> empty result, no failure
    assert(GraphSearch.searchByCooccurrence(spark, mentions, "nobody")
      .collect().isEmpty)
  }

  test("temporal search orchestration: auto-detect filter, annotate") {
    import graft.retrieval.TemporalRetrieval
    val chunks = Seq(
      ("c1", "d1", 0, "Acme results for the year", Seq(1.0f, 0.0f), true, 2023, "Q1"),
      ("c2", "d1", 1, "Acme guidance revised", Seq(0.9f, 0.1f), true, 2024, "Q2"),
      ("c3", "d2", 0, "Zeta overview", Seq(0.95f, 0.05f), true, 2024, "Q1")
    ).toDF("chunk_id", "doc_id", "chunk_index", "text", "embedding",
      "is_current", "fiscal_year", "fiscal_quarter")
    // "in 2024" -> POINT_IN_TIME(2024): c1 must be filtered out of BOTH legs
    val r = TemporalRetrieval.searchWithTemporalContext(spark,
      "What did Acme report in 2024?", Seq(1.0, 0.0), chunks, mentions,
      topK = 5)
    assert(r.filterApplied && r.context.hasTemporalReference)
    val ids = r.results.collect().map(_.getString(0)).toSet
    assert(ids === Set("c2", "c3"))
    // no temporal reference -> no filter, c1 eligible again
    val r2 = TemporalRetrieval.searchWithTemporalContext(spark,
      "What did Acme report?", Seq(1.0, 0.0), chunks, mentions, topK = 5)
    assert(!r2.filterApplied)
    assert(r2.results.collect().map(_.getString(0)).toSet === Set("c1", "c2", "c3"))
    // point-in-time wrapper annotates query time + type
    val at = TemporalRetrieval.searchAtTime(spark, "Acme", Seq(1.0, 0.0),
      chunks, mentions, java.time.LocalDate.parse("2024-05-15"), topK = 5)
      .collect()
    assert(at.nonEmpty)
    assert(at.head.getAs[String]("temporal_query_type") === "point_in_time")
    assert(at.head.getAs[String]("query_timestamp") === "2024-05-15")
    // 2024-05-15 -> fiscal Q2 2024: only c2 qualifies
    assert(at.map(_.getString(0)).toSeq === Seq("c2"))
    val rng = TemporalRetrieval.searchTimeRange(spark, "Acme", Seq(1.0, 0.0),
      chunks, mentions, java.time.LocalDate.parse("2023-01-01"),
      java.time.LocalDate.parse("2024-12-31"), topK = 5).collect()
    assert(rng.map(_.getString(0)).toSet === Set("c1", "c2", "c3"))
    assert(rng.head.getAs[String]("temporal_query_type") === "time_range")
  }

  test("build_context_summary assembles the reference text layout") {
    val s = ContextExpansion.buildContextSummary(Seq(
      ("c2", "main text here", "Acme Q3 call",
        Seq("acme", "bob", "carol", "dora", "eve", "frank"),
        Some("previous chunk body"), None)))
    assert(s.startsWith("[Result 1 from 'Acme Q3 call']\nmain text here\n"))
    assert(s.contains("Key entities: acme, bob, carol, dora, eve")) // top-5
    assert(!s.contains("frank"))
    assert(s.contains("[Previous context]\nprevious chunk body..."))
    assert(!s.contains("[Following context]"))
  }

  test("result evolution: new/disappeared/persistent id sets") {
    import graft.retrieval.Evolution
    val t1 = Seq("c1", "c2").toDF("chunk_id")
    val t2 = Seq("c2", "c3").toDF("chunk_id")
    val ev = Evolution.compareResults(t1, t2).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ev === Map("c3" -> "new", "c1" -> "disappeared", "c2" -> "persistent"))
    val periods = Evolution.compareOverTime(Seq(("q1", t1), ("q2", t2)))
    assert(periods.size === 1 && periods.head._1 === "q1" && periods.head._2 === "q2")
  }

  test("entity-graph expansion, document title search, database stats") {
    import graft.retrieval.Evolution
    val exp = Evolution.expandWithEntityGraph(mentions, edges, "c1").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // c1 mentions acme + bob; depth-1 neighbors via undirected edges
    assert(exp === Set(("acme", "ceo_of", "bob"), ("bob", "ceo_of", "acme"),
      ("bob", "knows", "carol")))
    val docs = Seq((1L, "Acme Q3 earnings call"), (2L, "Zeta annual report"))
      .toDF("doc_id", "title")
    val found = Evolution.searchDocuments(docs, "acme earnings").collect()
    assert(found.length === 1 && found.head.getLong(0) === 1L &&
      found.head.getInt(2) === 2)
    // an all-stopword query returns ZERO rows with the SAME (doc_id, title,
    // score) schema as the scored path (round-5 review finding: the empty
    // branch used to emit (doc_id, score) and broke a union/title-reader)
    val none = Evolution.searchDocuments(docs, "a an of")
    assert(none.columns.toSeq === Seq("doc_id", "title", "score"))
    assert(none.count() === 0L)
    val stats = Evolution.databaseStats(docs, docs, docs, edges, mentions).head()
    assert(stats.getLong(0) === 2L && stats.getLong(3) === 3L &&
      stats.getLong(4) === 7L)
  }
}
