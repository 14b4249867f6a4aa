package graft.link

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Schema._
import graft.text.Tok

/** Entity linking: blocking-key candidate generation + char-ngram cosine +
  * Jaro-Winkler verdicts — the scalable re-expression of the reference's
  * 3-stage dedup (entity_deduplication.py:233-383) with identical
  * thresholds (settings.py:100-120) under the documented
  * use_llm_validation=false contract (entity_deduplication.py:214-222):
  *
  *   stage 1 (blocking): reference materializes the full N×N cosine matrix
  *     and keeps per-entity top-10 same-type pairs with sim >= 0.85*0.8
  *     (entity_deduplication.py:233-297). At 10^12-doc scale an N×N product
  *     is impossible, so candidates come from a self-join on blocking keys,
  *     then the same per-entity top-10 / >=0.68 rule is applied via a
  *     row_number window.
  *   stage 2: Jaro-Winkler >= 0.7*0.8 or cosine >= 0.95
  *     (entity_deduplication.py:299-327).
  *   stage 3 (no-LLM verdict): accept iff cosine >= 0.85 AND JW >= 0.7.
  *
  * Ties in the top-10 ranking break on the partner's entity_id ascending
  * (deterministic equivalent of the reference's stable argsort order).
  */
object Linker {

  /** Aggregate mentions into the entity table, keyed (name, type) — the
    * store-level identity of the reference (graph/operations.py:173,336) —
    * with a deterministic id = sha256(name|type) (SURVEY §7.4.4).
    * One shuffle; hot entities (a company mentioned in every chunk) are
    * handled by Spark's map-side partial aggregation.
    */
  def entities(mentions: DataFrame): DataFrame =
    mentions
      .groupBy(col("entity_name").as("name"), col("entity_type"))
      .agg(
        sum(col("mention_count")).as("mention_count"),
        min(col("valid_from")).as("first_seen"),
        max(col("valid_from")).as("last_seen"))
      .withColumn("entity_id",
        sha2(concat_ws("|", col("name"), col("entity_type")), 256))

  private val simplifyLowerUdf = udf { (name: String) =>
    Tok.simplifyEntityName(name).toLowerCase
  }

  val cosineUdf = udf { (n1: String, n2: String) => NameFeatures.cosine(n1, n2) }
  val jwUdf = udf { (n1: String, n2: String) => JaroWinkler.similarity(n1, n2) }

  private val featUdf = udf { (name: String) =>
    val (i, v) = NameFeatures.vector(name)
    (i.toSeq, v.toSeq)
  }

  // the pair-stream dot product is graft.functions.SparseDot — a native
  // codegen expression, NOT a UDF: a near-cap bucket evaluates up to
  // maxBucketSize² of these, and the UDF this replaced paid ~4 µs/call in
  // Seq boxing (measured 434 s for one 10^8-pair bucket at 1 core; the
  // native kernel reads unsafe array data in place, same add order, so
  // values stay bit-equal to NameFeatures.dot and the serial oracle)

  /** Candidate generation via blocking keys. Input must have columns
    * (entity_id, name, entity_type). Output: (id1, name1, id2, name2,
    * entity_type, emb_sim) with id1 < id2 and emb_sim >= threshold*slack,
    * capped at maxCandidates per id1 (reference blocking contract).
    *
    * Key families: (type, first simplified token) and (type, 4-char prefix)
    * catch org/person alias variants; (type, 4-char suffix) catches
    * value-typed variants (dates differing in year, amounts differing in
    * leading digits). Buckets larger than maxBucketSize are dropped — a hot
    * key would make the self-join quadratic at scale; frequency-capped
    * blocking trades bounded compute for a bounded, documented recall loss
    * on ultra-dense buckets.
    *
    * Skew handling (the hot-entity clause of the north rule): value-typed
    * surfaces concentrate — every "$X million" MONEY entity shares the
    * (MONEY, "lion") suffix key — and all of a key's quadratic pair work
    * lands in ONE join partition. AQE's skew split never fires because the
    * skew is CPU, not bytes. So the self-join is salted exactly: the right
    * side gets a deterministic sub-group g2 = hash(id) mod saltGroups, the
    * left side is replicated once per sub-group, and the equi-join key
    * becomes (bkey, group) — the candidate set is IDENTICAL, but a B-member
    * bucket's B² work spreads over saltGroups partitions. Feature vectors
    * are precomputed per entity (not per pair), and the distinct() runs
    * AFTER the similarity filter so the big shuffle carries only survivors.
    */
  def candidates(entities: DataFrame, maxBucketSize: Long = 10000L,
      saltGroups: Int = 8, broadcastFeatures: Boolean = true): DataFrame = {
    val spark = entities.sparkSession
    val e = entities
      .select(col("entity_id"), col("name"), col("entity_type"))
      .withColumn("simp", simplifyLowerUdf(col("name")))
    val keyedAll = e.select(col("entity_id"), col("name"), col("entity_type"),
      explode(array_distinct(array(
        concat_ws("|", col("entity_type"), split(col("simp"), " ").getItem(0)),
        concat_ws("|", col("entity_type"), substring(col("simp"), 1, 4)),
        concat_ws("|", col("entity_type"), substring(col("simp"), -4, 4))
      ))).as("bkey"))
    // the count table is one row per DISTINCT blocking key — bounded by
    // 3x the entity count, tiny next to the corpus — so broadcasting it
    // keeps the keyed table on a narrow path (a shuffle join here cost a
    // full extra exchange of the keyed rows, pure serial fraction)
    val bucketCounts = keyedAll.groupBy(col("bkey"))
      .agg(count(lit(1)).as("bcount"))
    // NOT checkpointed although both join sides duplicate this subtree:
    // the duplicate work (key explode + bucket-count agg over 3 rows per
    // entity) is small next to the pair stream, and an eager checkpoint
    // here SERIALIZES the two sides' broadcast builds, which Spark
    // otherwise runs concurrently (measured: the checkpoint variant was
    // ~0.5 s slower on the 20k-doc build)
    val keyed = keyedAll.join(broadcast(bucketCounts), Seq("bkey"))
      .where(col("bcount") <= lit(maxBucketSize))
      .drop("bcount")
    // the join sides ship ONLY (key, id, name): the ~0.5 KB sparse feature
    // vectors stay OUT of the salted self-join shuffle (shipping them
    // replicated x saltGroups made the join shuffle ~1 GB and memory-
    // bandwidth-bound — measured flat 2->8-core scaling on this box);
    // features attach to the surviving pair stream afterwards via two
    // narrow hash joins against the per-entity feature table
    val a = keyed.select(col("bkey").as("k1"), col("entity_id").as("id1"),
      col("name").as("name1"), col("entity_type"))
      .withColumn("grp", explode(sequence(lit(0), lit(saltGroups - 1))))
    val b = keyed.select(col("bkey").as("k2"), col("entity_id").as("id2"),
      col("name").as("name2"),
      pmod(xxhash64(col("entity_id")), lit(saltGroups)).cast("int").as("g2"))
    // spread the (bkey, salt-group) units over more partitions than cores:
    // with shuffle.partitions == cores, several of a hot bucket's salt
    // groups hash-collide into one task and the join straggles
    val parts = math.max(spark.sparkContext.defaultParallelism * 4, 32)
    val rawPairs = a.repartition(parts, col("k1"), col("grp"))
      .join(b.repartition(parts, col("k2"), col("g2")),
        col("k1") === col("k2") && col("grp") === col("g2") &&
          col("id1") < col("id2"))
    // feature table: one row per entity. Broadcast at realistic entity
    // counts (the gazetteer-bounded vocabulary is tiny next to the corpus);
    // pass broadcastFeatures=false when the entity table itself outgrows
    // executor memory — the id-keyed join is uniform, so the shuffle path
    // has no skew.
    // Not checkpointed: both joins below reference this one frame, so over
    // an uncached entity table (IngestJob reads it back from its committed
    // stage) the second join's exchange, broadcast or shuffle, is a
    // ReusedExchange of the first and featUdf runs once. Over a cached
    // entity table (Pipeline.fromChunks) AQE gives each reference's scan
    // its own TableCacheQueryStage, so the small feature relation is built
    // twice. An eager checkpoint here kept reuse there but ran a job at
    // plan-construction time and left blocks only GC released.
    val featTable = e.select(col("entity_id"), featUdf(col("name")).as("feat"))
    val feats = if (broadcastFeatures) broadcast(featTable) else featTable
    val blockSlack = Const.EmbThreshold * Const.BlockingSlack
    // the two feature joins reference the SAME unaliased `feats` frame and
    // rename on the join OUTPUT: pre-join alias projections (the previous
    // formulation) make the two broadcast subplans canonicalize unequal,
    // so each join built and collected its own copy of the feature
    // relation — with the aliases outside the exchange, ReuseExchange
    // ships it once (one driver collect instead of two, fixed cost at
    // every scale)
    val pairs = rawPairs
      .join(feats, col("id1") === feats("entity_id"))
      .withColumnRenamed("entity_id", "id1f")
      .withColumnRenamed("feat", "feat1")
      .join(feats, col("id2") === feats("entity_id"))
      .withColumn("emb_sim", graft.functions.SparseDot.sparseDot(
        col("feat1._1"), col("feat1._2"), col("feat._1"), col("feat._2")))
      .where(col("emb_sim") >= lit(blockSlack))
      .select(col("id1"), col("name1"), col("id2"), col("name2"),
        col("entity_type"), col("emb_sim"))
    // dedup + per-entity top-10 in ONE shuffle on id1 (was distinct() then
    // a row_number window — two full wide exchanges of the pair stream):
    // collect_set removes the multi-blocking-key duplicates (the same pair
    // reached via 2-3 keys is bit-identical — SparseDot is deterministic);
    // array_sort on struct(-emb_sim, id2) realizes the reference ranking
    // (sim desc, partner id asc); slice caps at MaxCandidatesPerEntity.
    // Bounded state: an entity sits in <= 3 buckets of <= maxBucketSize, so
    // a set holds at most 3*maxBucketSize survivors — and only survivors of
    // the >= 0.68 screen at that.
    pairs
      .groupBy(col("id1"), col("name1"), col("entity_type"))
      .agg(collect_set(struct((-col("emb_sim")).as("neg"),
        col("id2").as("id2"), col("name2").as("name2"))).as("cands"))
      .select(col("id1"), col("name1"), col("entity_type"),
        explode(slice(array_sort(col("cands")), 1,
          Const.MaxCandidatesPerEntity)).as("c"))
      .select(col("id1"), col("name1"), col("c.id2").as("id2"),
        col("c.name2").as("name2"), col("entity_type"),
        (-col("c.neg")).as("emb_sim"))
  }

  /** Legacy single-pair fast path (entity_deduplication.py:116-167, the
    * `use_llm_validation=false` branch): exact lowercase match → true;
    * type mismatch → false; Jaro-Winkler >= 0.95 → true, < 0.5 → false;
    * else cosine >= 0.85 AND JW >= 0.7. Pure function — usable driver-side
    * or inside a filter expression.
    */
  def areEntitiesSimilar(name1: String, type1: String, name2: String,
      type2: String): Boolean = {
    if (name1.toLowerCase.trim == name2.toLowerCase.trim) return true
    if (type1 != type2) return false
    val strSim = JaroWinkler.similarity(name1, name2)
    if (strSim >= 0.95) return true
    if (strSim < 0.5) return false
    val embSim = NameFeatures.cosine(name1, name2)
    embSim >= Const.EmbThreshold && strSim >= Const.StrThreshold
  }

  /** Stages 2+3: JW filter then the no-LLM accept rule. Output: validated
    * duplicate pairs (id1, id2, emb_sim, str_sim).
    */
  def verdicts(candidatePairs: DataFrame): DataFrame =
    candidatePairs
      .withColumn("str_sim", jwUdf(col("name1"), col("name2")))
      .where(col("str_sim") >= lit(Const.StrThreshold * Const.BlockingSlack) ||
        col("emb_sim") >= lit(Const.HighEmbBypass))
      .where(col("emb_sim") >= lit(Const.EmbThreshold) &&
        col("str_sim") >= lit(Const.StrThreshold))
      .select("id1", "id2", "emb_sim", "str_sim")
}
