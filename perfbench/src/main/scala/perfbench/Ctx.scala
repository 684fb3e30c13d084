package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A reported number. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back: whether every check passed, its
  * end-to-end metrics (untraced run) or per-layer metrics (traced run). */
final case class Outcome(correct: Boolean, metrics: Seq[Metric])

/** Shared state of one benchmark run: the session, the seed, the tracer,
  * the operation counters and the human-readable report. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Int, val traced: Boolean, val work: Path) {
  val tracer = new Tracer(spark.sparkContext)
  private val attemptedN = new AtomicLong
  private val failedN = new AtomicLong
  private val failures = ArrayBuffer.empty[String]

  /** Stop tracing and keep the raw trace beside the run's other output. */
  def stopTrace(): Trace = {
    val t = tracer.stop()
    Files.writeString(work.resolve(s"trace-$workload-$seed.json"), t.json)
    t
  }

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get

  /** Run one operation. It counts as attempted; an exception counts as
    * failed and is never timed. Returns the value and its wall time in
    * milliseconds. */
  def op[T](body: => T): Option[(T, Double)] = {
    attemptedN.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val v = body
      Some((v, (System.nanoTime() - t0) / 1e6))
    } catch {
      case e: Exception =>
        failedN.incrementAndGet()
        System.err.println(s"operation failed: $e")
        None
    }
  }

  /** A named correctness check; a failed one fails the run. */
  def check(name: String)(ok: => Boolean): Boolean = {
    val r = try ok catch {
      case e: Exception => System.err.println(s"check '$name' threw: $e"); false
    }
    say(f"check ${if (r) "ok  " else "FAIL"} $name")
    if (!r) failures += name
    r
  }

  def allChecksPassed: Boolean = failures.isEmpty

  private val born = System.nanoTime()

  /** A progress line on standard error, with the time since the run began. */
  def progress(what: String): Unit =
    System.err.println(f"perfbench ${elapsed(born)}%7.1fs $what")

  def say(line: String): Unit = synchronized { System.out.println(line) }

  /** Print a named metric in the report, beside the generic ones of the
    * result line. */
  def note(name: String, value: Double, unit: String, detail: String = ""): Unit =
    say(f"  $name%-32s ${value}%14.4f $unit%-6s $detail")

  def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A fresh directory under the run's work dir. */
  def freshDir(name: String): Path = {
    val d = work.resolve(name)
    Ctx.deleteRec(d)
    Files.createDirectories(d)
  }
}

object Ctx {
  def deleteRec(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().asScala.toList.foreach(deleteRec) finally s.close()
      }
      Files.deleteIfExists(p)
    }

  /** path -> size of every regular file under `root`. */
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  def bytesUnder(root: Path): Long = files(root).values.sum

  /** Bytes of files in `after` that are new or changed since `before`:
    * what was written in between. Segments and tombstone batches are
    * written as new files, so this counts rewrites as well. */
  def written(before: Map[String, Long], after: Map[String, Long]): Long =
    after.iterator.collect { case (p, n) if !before.get(p).contains(n) => n }.sum
}
