package kgbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spans around the benchmark's calls into the program's layers, plus the
  * Spark work and JVM time that fell inside them. Everything is recorded
  * from outside the program: a SparkListener and the JMX beans, both
  * registered here. Spans stay in memory and are written out once, when
  * the run ends; the arithmetic on them (self time, idle time) is done by
  * kgbench/stats.py.
  *
  * Times are epoch milliseconds, the clock Spark stamps tasks and jobs
  * with.
  */
final class Tracer(spark: SparkSession) {

  final case class Span(id: Int, name: String, parent: Int, op: Int,
      start: Double, var end: Double = 0, var rows: Long = 0)
  final case class Task(launch: Long, finish: Long, runMs: Long,
      shuffleBytes: Long, spillBytes: Long, failed: Boolean)

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val tasks = new ConcurrentLinkedQueue[Task]
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val (run, shuffle, spill) =
        if (m == null) (0L, 0L, 0L)
        else (m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled)
      tasks.add(Task(e.taskInfo.launchTime, e.taskInfo.finishTime, run,
        shuffle, spill, !e.taskInfo.successful))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(e.time)
  }
  spark.sparkContext.addSparkListener(listener)

  /** Run `f` inside a span; `rows` reads the row count of its result. */
  def span[T](name: String, op: Int)(f: => T)(rows: T => Long): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      op, now)
    spans += s
    open = s :: open
    try {
      val r = f
      s.rows = rows(r)
      r
    } finally {
      s.end = now
      open = open.tail
    }
  }

  def stop(): Unit = {
    org.apache.spark.KgBenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  def toJson: Map[String, Any] = Map(
    "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start" -> s.start, "end" -> s.end,
      "rows" -> s.rows)),
    "tasks" -> tasks.asScala.toSeq.map(t => Seq(t.launch, t.finish,
      t.runMs, t.shuffleBytes, t.spillBytes, if (t.failed) 1 else 0)),
    "jobs" -> jobs.asScala.toSeq.map(_.longValue))
}

object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  def jitSeconds: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Megabytes of persisted blocks (cached frames, checkpoints) held in
    * memory right now, less the blocks of the frames in `own` (those the
    * benchmark itself persisted), so only the program's cache counts.
    */
  def cachedMb(spark: SparkSession, own: Seq[DataFrame]): Double = {
    val cm = spark.sharedState.cacheManager
    val ownIds = own.flatMap(df =>
      cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]))
      .map(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id).toSet
    spark.sparkContext.getRDDStorageInfo.filterNot(r => ownIds(r.id))
      .map(_.memSize).sum / 1048576.0
  }

  @volatile private var sink = 0L

  /** A fixed CPU-bound spin on `threads` threads (xorshift, no allocation);
    * its wall time calibrates the clock the run measured at.
    */
  def calibrationSpin(threads: Int): Double = {
    def spin(n: Long): Long = {
      var x = 88172645463325252L
      var i = 0L
      while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    sink ^= spin(20000000L)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { _ =>
      val t = new Thread(() => sink ^= spin(200000000L))
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}

/** Serial kernel timings with Spark out of the picture. */
object Kernels {
  import graft.core.Schema._
  import graft.ingest.{GazetteerNer, RelationPatterns, SpanChunker}
  import graft.link.{JaroWinkler, NameFeatures}

  @volatile private var sink = 0L

  /** Mean seconds per item of `f` over `items`, repeated until at least
    * `minSeconds` of work was timed (after one untimed pass).
    */
  private def perItem[A](items: IndexedSeq[A], minSeconds: Double = 0.3)(
      f: A => Int): Double = {
    if (items.isEmpty) return 0.0
    items.foreach(a => sink += f(a))
    var n = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < minSeconds) {
      items.foreach(a => sink += f(a)); n += items.size
    }
    (System.nanoTime() - t0) / 1e9 / n
  }

  def run(docs: IndexedSeq[(DocRow, DocMeta)],
      gaz: Seq[graft.fixtures.Fixtures.GazEntry],
      names: IndexedSeq[String]): Seq[(String, Double)] = {
    val cfg = SpanChunker.Config()
    val chunks = docs.flatMap { case (d, m) => SpanChunker.chunkDoc(d, m, cfg) }
    val trie = GazetteerNer.trieFor(gaz)
    val vecs = names.map(NameFeatures.vector)
    val pairs = names.indices.map(i => (i, (i * 7 + 1) % names.size))
    Seq(
      "kernel.chunkDoc.us_per_doc" -> 1e6 * perItem(docs) {
        case (d, m) => SpanChunker.chunkDoc(d, m, cfg).size },
      "kernel.mentionsOf.us_per_chunk" -> 1e6 * perItem(chunks)(
        c => GazetteerNer.mentionsOf(c, trie).size),
      "kernel.triplesOf.us_per_chunk" -> 1e6 * perItem(chunks)(
        c => RelationPatterns.triplesOf(c, trie).size),
      "kernel.nameVector.us_per_name" -> 1e6 * perItem(names)(
        n => NameFeatures.vector(n)._1.length),
      "kernel.dot.ns_per_pair" -> 1e9 * perItem(pairs) { case (i, j) =>
        (NameFeatures.dot(vecs(i), vecs(j)) * 1e3).toInt },
      "kernel.jaroWinkler.ns_per_pair" -> 1e9 * perItem(pairs) { case (i, j) =>
        (JaroWinkler.similarity(names(i), names(j)) * 1e3).toInt })
  }
}
