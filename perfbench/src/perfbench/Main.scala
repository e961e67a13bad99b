package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark runner: one workload, one seed, one mode.
  *
  * {{{
  * Main --workload aqp_interactive --seed 1 --seconds 12 --trace 0
  *      --threads 2 --work <dir> --sidecar <file> [--size tiny]
  * }}}
  *
  * Untraced (`--trace 0`) it reports the end-to-end metrics; traced
  * (`--trace 1`) the per-layer ones. The last stdout line is the result
  * object; the sidecar file holds everything else (spans, per-operation
  * counters, self time per layer, failures). */
object Main {
  /** End-to-end metrics: name → unit. Every workload reports all of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms",
    "throughput_per_s" -> "1/s", "answer_quality" -> "fraction")

  /** Per-layer metrics: name → unit. A layer a workload does not use
    * reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "driver.analysis_ms" -> "ms", "driver.optimization_ms" -> "ms",
    "driver.planning_ms" -> "ms", "driver.gap_ms" -> "ms",
    "driver.gap_share" -> "fraction",
    "plans.lower_ms" -> "ms", "plans.parse_plan_ms" -> "ms",
    "jobs.count" -> "count", "jobs.wall_ms" -> "ms",
    "stages.count" -> "count", "tasks.count" -> "count",
    "stages.shuffle_write_bytes" -> "bytes", "stages.shuffle_read_bytes" -> "bytes",
    "stages.spill_bytes" -> "bytes", "stages.task_skew" -> "ratio",
    "exec.rows_scanned" -> "count", "exec.rows_sampled" -> "count",
    "exec.adaptive_rounds" -> "count", "exec.adaptive_useful_frac" -> "fraction",
    "exec.sampled_speedup" -> "ratio", "exec.rel_error_p95_pct" -> "%",
    "exec.exact_latency_p50_ms" -> "ms",
    "sources.files_read_frac" -> "fraction", "sources.scan_bytes" -> "bytes",
    "sources.resolve_ms" -> "ms",
    "functions.minhash_mb_s" -> "MB/s", "functions.shingle_hash_mb_s" -> "MB/s",
    "functions.token_count_mb_s" -> "MB/s", "functions.money_dec_mrows_s" -> "Mrows/s",
    "operators.lsh_candidates_ms" -> "ms", "operators.verify_ms" -> "ms",
    "operators.clusters_ms" -> "ms", "operators.decontam_ms" -> "ms",
    "operators.candidate_pairs" -> "count", "operators.verify_useful_frac" -> "fraction",
    "operators.near_rows_in" -> "count", "operators.near_rows_out" -> "count",
    "operators.decontam_rows_in" -> "count", "operators.decontam_rows_out" -> "count",
    "operators.exactdup_removed_frac" -> "fraction",
    "checkpoints.blocks_held_after" -> "count", "checkpoints.mb_staged_peak" -> "MB",
    "checkpoints.driver_heap_peak_mb" -> "MB",
    "streaming.state_read_bytes" -> "bytes", "streaming.state_write_bytes" -> "bytes",
    "streaming.state_files" -> "count", "streaming.compact_ms" -> "ms",
    "streaming.batch_growth" -> "ratio", "streaming.state_bytes_per_doc" -> "bytes",
    "trace.overhead_ms" -> "ms", "trace.overhead_pct" -> "%")

  /** Per-layer values read off operation latencies: in the traced run they
    * come from the untraced executions only. */
  private val LatencyExtras = Set("exec.exact_latency_p50_ms")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val tiny = opts.get("size").contains("tiny")
    val threads = opts("threads").toInt
    val work = opts("work")
    val sidecar = opts("sidecar")

    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val w = Workload.make(workload, spark, seed, tiny)

    // set-up: inputs and reference answers several times (their median),
    // then the workload's warm-up; setup_s is their sum
    val reps = if (tiny) 1 else 3
    val prepareS = (0 until reps).map { r =>
      if (r > 0) Files.delete(s"$work/setup-${r - 1}")
      Workload.time(w.prepare(s"$work/setup-$r"))._2 / 1000.0
    }
    val warmS = Workload.time(w.warmUp())._2 / 1000.0
    val setupS = Stats.median(prepareS) + warmS

    val tracer = new Tracer(spark)
    val idle = new Tracer(spark)
    val results = ArrayBuffer.empty[OpResult]
    val plain = ArrayBuffer.empty[OpResult]
    val tracedOps = ArrayBuffer.empty[TracedOp]
    val plainMs = scala.collection.mutable.Map.empty[Int, Double]
    def runPlain(i: Int): Unit = {
      val r = w.op(i, idle)
      results += r
      plain += r
      plainMs(i) = r.ms
    }
    def runTraced(i: Int): Unit = {
      val (r, c, m) = tracer.traced(i, w.name)(w.op(i, tracer))
      results += r
      tracedOps += TracedOp(r, c, m)
    }
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    var i = 0
    val rounds = if (traced) 1 else w.minRounds
    while (i % w.unit != 0 || i < rounds * w.unit || elapsedS < seconds) {
      if (!traced) runPlain(i)
      else if (w.repeatable) {
        if (i % 2 == 0) { runPlain(i); runTraced(i) } else { runTraced(i); runPlain(i) }
      } else {
        // alternate, shifting by one each round when a round is even
        val shift = if (w.unit % 2 == 0) i / w.unit else 0
        if ((i + shift) % 2 == 1) runTraced(i) else runPlain(i)
      }
      i += 1
    }
    val wallS = elapsedS

    val failures = results.flatMap(_.failure)
    failures.take(5).foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    val extras: Map[String, Double] =
      if (!traced) Map.empty
      else w.endToEnd(results.toSeq, wallS) ++
        w.endToEnd(plain.toSeq, wallS).filter { case (k, _) => LatencyExtras(k) }
    val values: Map[String, Double] =
      if (!traced) w.endToEnd(results.toSeq, wallS) + ("setup_s" -> setupS)
      else PerLayer.map(_._1 -> 0.0).toMap ++
        generic(tracedOps.toSeq, plain.toSeq, if (w.repeatable) plainMs.toMap else Map.empty) ++
        extras ++ tracer.isolated(i, "isolated")(w.perLayer(tracedOps.toSeq, tracer))
    val wanted = if (traced) PerLayer else EndToEnd
    val metrics = wanted.map { case (n, u) =>
      n -> Map("value" -> values.getOrElse(n, Double.NaN), "unit" -> u)
    }

    val side = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "threads" -> threads, "seconds" -> seconds, "wall_s" -> wallS,
      "session_start_s" -> sessionS, "prepare_reps_s" -> prepareS,
      "warm_up_s" -> warmS, "setup_s" -> setupS,
      "all_values" -> values,
      "failures" -> failures.take(50),
      "ops" -> results.map(r => Map("kind" -> r.kind, "ms" -> r.ms,
        "items" -> r.items, "ok" -> r.ok, "extra" -> r.extra)),
      "traced_ops" -> tracedOps.map(t => Map("op" -> t.c.opId, "kind" -> t.res.kind,
        "ms" -> t.res.ms, "jobs" -> t.c.jobs, "job_wall_ms" -> t.c.jobWallMs,
        "stages" -> t.c.stages, "tasks" -> t.c.tasks,
        "shuffle_write_bytes" -> t.c.shuffleWrite,
        "shuffle_read_bytes" -> t.c.shuffleRead, "spill_bytes" -> t.c.spill,
        "input_bytes" -> t.c.inputBytes, "output_bytes" -> t.c.outputBytes,
        "analysis_ms" -> t.c.analysisMs, "optimization_ms" -> t.c.optimizationMs,
        "planning_ms" -> t.c.planningMs, "rows_scanned" -> t.c.rowsScanned,
        "rows_into_agg" -> t.c.rowsIntoAgg, "task_skew" -> t.c.taskSkew,
        "actions" -> t.c.actionLog,
        "blocks_held_after" -> t.mem.blocksHeld,
        "staged_peak_bytes" -> t.mem.stagedPeakBytes,
        "heap_peak_bytes" -> t.mem.heapPeakBytes)),
      "self_time_ms" -> tracer.selfTimeMs,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "op" -> s.op,
        "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(sidecar), Json.render(side))

    spark.stop()
    val correct = failures.isEmpty && values.values.forall(v => !v.isNaN)
    println(Json.render(Map("correct" -> correct, "attempted" -> results.size,
      "failed" -> results.count(!_.ok), "metrics" -> metrics.toMap)))
    System.out.flush()
  }

  /** Per-layer values every workload reads the same way from its traced
    * operations: medians per operation, peaks as maxima. */
  private def generic(ops: Seq[TracedOp], plain: Seq[OpResult],
      pairedPlainMs: Map[Int, Double]): Map[String, Double] = {
    def med(f: TracedOp => Double) = Stats.median(ops.map(f))
    val plainMs = plain.map(_.ms)
    // paired executions of one operation: median of the differences;
    // otherwise the difference of the medians
    val overhead =
      if (pairedPlainMs.nonEmpty)
        Stats.median(ops.map(t => t.res.ms - pairedPlainMs(t.c.opId)))
      else Stats.median(ops.map(_.res.ms)) - Stats.median(plainMs)
    Map(
      "driver.analysis_ms" -> med(_.c.analysisMs),
      "driver.optimization_ms" -> med(_.c.optimizationMs),
      "driver.planning_ms" -> med(_.c.planningMs),
      "driver.gap_ms" -> med(t => math.max(0.0, t.res.ms - t.c.jobWallMs)),
      "driver.gap_share" -> med(t =>
        if (t.res.ms <= 0) 0.0 else math.max(0.0, t.res.ms - t.c.jobWallMs) / t.res.ms),
      "jobs.count" -> med(_.c.jobs.toDouble),
      "jobs.wall_ms" -> med(_.c.jobWallMs),
      "stages.count" -> med(_.c.stages.toDouble),
      "tasks.count" -> med(_.c.tasks.toDouble),
      "stages.shuffle_write_bytes" -> med(_.c.shuffleWrite.toDouble),
      "stages.shuffle_read_bytes" -> med(_.c.shuffleRead.toDouble),
      "stages.spill_bytes" -> med(_.c.spill.toDouble),
      "stages.task_skew" -> med(_.c.taskSkew),
      "exec.rows_scanned" -> med(_.c.rowsScanned.toDouble),
      "sources.scan_bytes" -> med(_.c.inputBytes.toDouble),
      "checkpoints.blocks_held_after" -> med(_.mem.blocksHeld.toDouble),
      "checkpoints.mb_staged_peak" ->
        (if (ops.isEmpty) 0.0 else ops.map(_.mem.stagedPeakBytes).max / 1e6),
      "checkpoints.driver_heap_peak_mb" ->
        (if (ops.isEmpty) 0.0 else ops.map(_.mem.heapPeakBytes).max / 1e6),
      "trace.overhead_ms" -> overhead,
      "trace.overhead_pct" ->
        (if (plainMs.isEmpty) 0.0 else 100.0 * overhead / Stats.median(plainMs)))
  }
}
