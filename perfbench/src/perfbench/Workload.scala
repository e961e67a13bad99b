package perfbench

import org.apache.spark.sql.SparkSession

/** One closed-loop operation's outcome. `items` is the work it completed
  * (documents for the curation workloads, 1 for a query). `failure` holds
  * why its output check failed, or why it threw. */
final case class OpResult(kind: String, ms: Double, items: Long,
    failure: Option[String], extra: Map[String, Double] = Map.empty) {
  def ok: Boolean = failure.isEmpty
}

final case class TracedOp(res: OpResult, c: OpCounters, mem: OpMemory)

/** A benchmark workload: inputs from a seed, a closed loop of checked
  * operations, and the metrics they yield. */
trait Workload {
  def name: String

  /** One set-up repetition into the fresh directory `dir`: generate the
    * inputs and compute the reference answers. The loop runs on the inputs
    * of the last repetition. */
  def prepare(dir: String): Unit

  /** Run every kind of operation once, after the last [[prepare]], so JIT
    * and codegen warm-up land in set-up time rather than in latencies. */
  def warmUp(): Unit

  /** The loop only stops after a multiple of this many operations, so
    * every run measures whole rounds of the same operation mix. */
  def unit: Int

  /** Whole rounds the untraced loop runs at least, however short
    * `--seconds` is; the traced loop runs at least one. */
  def minRounds: Int

  /** True when an operation can run twice with the same effect; the traced
    * run then pairs a traced and an untraced execution of each operation. */
  def repeatable: Boolean

  def op(i: Int, tr: Tracer): OpResult

  /** Values read off the operations' latencies and answers: the end-to-end
    * metrics except `setup_s`, and the per-layer ones that come from answers
    * or untraced latencies (error, coverage, exact latency, store size). */
  def endToEnd(ops: Seq[OpResult], wallS: Double): Map[String, Double]

  /** Workload-specific per-layer values from the traced operations; may
    * time isolated public calls itself (kernels, operators). */
  def perLayer(ops: Seq[TracedOp], tr: Tracer): Map[String, Double]
}

object Workload {
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def failureOf(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).take(300)}"
  }

  def make(name: String, spark: SparkSession, seed: Long, tiny: Boolean): Workload =
    name match {
      case "aqp_interactive" => new AqpWorkload(spark, seed, tiny)
      case "curate_batch" => new CurateBatchWorkload(spark, seed, tiny)
      case "curate_stream" => new CurateStreamWorkload(spark, seed, tiny)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** Local-filesystem helpers: store accounting and work-directory clean-up. */
object Files {
  private def walk(p: String): Seq[java.io.File] = {
    val root = new java.io.File(p)
    if (!root.exists) Nil
    else {
      def go(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(go)
        else Seq(f)
      go(root)
    }
  }
  /** Data files under `p`, without checksum and marker files. */
  private def dataFiles(p: String): Seq[java.io.File] =
    walk(p).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
  def bytes(p: String): Long = dataFiles(p).map(_.length).sum
  def count(p: String): Long = dataFiles(p).size.toLong
  def delete(p: String): Unit = {
    def go(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(go)
      f.delete()
    }
    go(new java.io.File(p))
  }
}
