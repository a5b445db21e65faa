package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File

/** One measured operation: a run_id, or one query's build and execution. */
final case class OpResult(op: Int, name: String, seconds: Double,
    ok: Boolean, error: String = "")

/** A workload is set up (possibly several times, each from nothing) and
  * then run as one closed-loop client: each op starts when the previous
  * one and its correctness checks are done. */
trait Workload {
  def setup(spark: SparkSession, dir: String): Unit
  /** Runs the measured ops; `afterOp` is called after each op and its
    * checks, outside the op's timing. */
  def run(spark: SparkSession, tracer: Tracer, afterOp: () => Unit): Seq[OpResult]
  /** Per-layer metrics this workload's layers produce (traced runs). */
  def layers(tracer: Tracer): Map[String, Double]
  /** Anything worth keeping beside the trace (goldens seen, etc.). */
  def record: Map[String, Any] = Map.empty
}

object Workload {
  /** Run `body` as a correctness check: its Spark work is left out of
    * the listener totals. */
  def check[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Probe.CheckKey)
    sc.setLocalProperty(Probe.CheckKey, "1")
    val t0 = System.nanoTime()
    try body
    finally {
      checkSeconds += (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(Probe.CheckKey, prev)
    }
  }

  /** Time spent in [[check]] so far. */
  var checkSeconds = 0.0

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** Files under `dir` with their (size, mtime). */
  def listing(dir: String): Map[String, (Long, Long)] = {
    def walk(f: File): Seq[(String, (Long, Long))] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.isFile) Seq(f.getPath -> ((f.length, f.lastModified)))
      else Nil
    walk(new File(dir)).toMap
  }

  /** Bytes of files that are new or changed between two listings. */
  def written(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): Long =
    after.collect { case (p, (size, mt)) if !before.get(p).contains((size, mt)) => size }.sum
}
