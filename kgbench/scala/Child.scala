package kgbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark child JVM: set up one workload, signal READY, run its
  * operations in a closed loop (one caller) for the measured window, check
  * the outputs, and write everything to a JSON file for kgbench/run.py.
  *
  *   Child --workload W --input DIR --work DIR --cores N --seconds S
  *         --trace 0|1 --checks 0|1 --out FILE
  *
  * With --trace 1 the window is split: the first half runs untraced
  * operations, the second half traced ones (each layer forced and timed
  * in a span), so the trace overhead is measured inside one JVM.
  */
object Child {

  final case class Args(workload: String = "", input: String = "",
      work: String = "", cores: Int = 1, seconds: Double = 10,
      trace: Boolean = false, checks: Boolean = true, out: String = "")

  def parse(argv: Array[String]): Args =
    argv.grouped(2).foldLeft(Args()) {
      case (a, Array("--workload", v)) => a.copy(workload = v)
      case (a, Array("--input", v)) => a.copy(input = v)
      case (a, Array("--work", v)) => a.copy(work = v)
      case (a, Array("--cores", v)) => a.copy(cores = v.toInt)
      case (a, Array("--seconds", v)) => a.copy(seconds = v.toDouble)
      case (a, Array("--trace", v)) => a.copy(trace = v == "1")
      case (a, Array("--checks", v)) => a.copy(checks = v == "1")
      case (a, Array("--out", v)) => a.copy(out = v)
      case (_, other) => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }

  /** The session every entry point of the program builds (graft.Bench). */
  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val spark = session(a.cores, Paths.get(a.work, "spark-local").toString)
    try {
      val w: Workload = a.workload match {
        case "ingest_bulk" => new IngestBulk(spark, a.input, a.work)
        case "kg_query" => new KgQuery(spark, a.input)
        case other => sys.error(s"unknown workload $other")
      }
      w.setup()
      val jitSetup = Jvm.jitSeconds
      println("READY")
      System.out.flush()

      val calib = Jvm.calibrationSpin(a.cores)
      val tw = System.nanoTime()
      val gc0 = Jvm.gcSeconds
      val ops = ArrayBuffer.empty[(Double, Boolean, Double)] // (seconds, traced, cached MB)
      val digests = ArrayBuffer.empty[String]
      val threw = ArrayBuffer.empty[Int]
      def window(seconds: Double, t: Option[Tracer]): Unit = {
        val t0 = System.nanoTime()
        val start = ops.size
        def inRound = (ops.size - start) % w.round != 0
        while (ops.size == start || inRound ||
            (System.nanoTime() - t0) / 1e9 < seconds) {
          val i = ops.size
          val s0 = System.nanoTime()
          try {
            val (s, d) = w.op(i, t)
            ops += ((s, t.isDefined, Jvm.cachedMb(spark, w.ownCache))); digests += d
          } catch {
            case e: Exception =>
              System.err.println(s"[kgbench] operation $i failed: $e")
              e.printStackTrace()
              ops += (((System.nanoTime() - s0) / 1e9, t.isDefined, Jvm.cachedMb(spark, w.ownCache)))
              digests += ""
              threw += i
          }
        }
      }
      // the listener is registered only for the traced half
      val tracer = if (a.trace) {
        window(a.seconds / 2, None)
        val t = new Tracer(spark)
        window(a.seconds / 2, Some(t))
        Some(t)
      } else {
        window(a.seconds, None)
        None
      }
      val gcWindow = Jvm.gcSeconds - gc0
      val windowSeconds = (System.nanoTime() - tw) / 1e9
      tracer.foreach(_.stop())

      val tc = System.nanoTime()
      val (verdicts, failedByCheck) =
        if (a.checks) w.check(digests.toIndexedSeq) else (Seq.empty, Set.empty[Int])
      val checksSeconds = (System.nanoTime() - tc) / 1e9
      val failed = (threw.toSet ++ failedByCheck).toSeq.sorted
      val kernels = if (a.trace) Kernels.run(w.kernelDocs, w.gazetteer,
        w.kernelNames) else Seq.empty
      val out = Map(
        "ops" -> ops.toSeq.map { case (s, tr, mb) => Seq(s, tr, mb) },
        "failed_ops" -> failed,
        "checks" -> verdicts.toMap,
        "window_s" -> windowSeconds,
        "checks_s" -> checksSeconds,
        "props" -> w.props.toMap,
        "jit_setup_s" -> jitSetup,
        "gc_s" -> gcWindow,
        "calib_s" -> calib,
        "kernels" -> kernels.toMap,
        "trace" -> tracer.map(_.toJson))
      JsonMapper.builder().addModule(DefaultScalaModule).build()
        .writeValue(new java.io.File(a.out), out)
    } finally spark.stop()
  }
}

/** One workload: its set-up (load and warm-up), its operation, and the
  * checks on what the operations produced.
  */
trait Workload {
  def setup(): Unit
  /** Frames the benchmark persisted itself; cached_mb leaves them out. */
  def ownCache: Seq[DataFrame] = Seq.empty
  /** Operations per round: a window ends only after whole rounds. */
  def round: Int = 1
  /** Run operation `i`; returns its seconds and a digest of its output. */
  def op(i: Int, t: Option[Tracer]): (Double, String)
  /** Check the outputs; returns named verdicts and failed operations. */
  def check(digests: IndexedSeq[String]): (Seq[(String, Any)], Set[Int])
  def props: Seq[(String, Any)]
  def kernelDocs: IndexedSeq[(graft.core.Schema.DocRow, graft.core.Schema.DocMeta)]
  def gazetteer: Seq[graft.fixtures.Fixtures.GazEntry]
  def kernelNames: IndexedSeq[String]
}

object Util {
  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def sha256(s: String): String = graft.oracle.SerialOracle.sha256Hex(s)

  /** Order-independent digest of a frame's rows. */
  def digest(df: DataFrame): String =
    sha256(df.collect().map(rowString).sorted.mkString("\n"))

  def rowString(r: Row): String = r.toSeq.map {
    case xs: scala.collection.Seq[_] => xs.mkString("[", ",", "]")
    case x => String.valueOf(x)
  }.mkString("|")

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Persist and count inside a span when tracing; pass through untraced. */
  def stage(t: Option[Tracer], op: Int, name: String)(df: => DataFrame): DataFrame =
    t match {
      case None => df
      case Some(tr) =>
        tr.span(name, op) {
          val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          (p, p.count())
        }(_._2)._1
    }
}
