package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim

import graft.operators.{CurationPipeline, Decontam, Dedup, TextAnalysis}
import graft.streaming.StreamingCuration

/** What the two curation workloads share: the corpus, its ground-truth
  * checks, and the isolated kernel and operator timings of the traced run. */
abstract class CurateBase(spark: SparkSession, seed: Long) extends Workload {
  /** 8-grams for decontamination: the planted eval spans are 16 words, and
    * an accidental 8-gram match between Zipf prose and the eval set is
    * vanishingly rare, so exactly the planted docs are contaminated. */
  val DecontamN = 8
  /** Model-filter margin floor, in cents: low enough that prose passes, so
    * the stage does its work on every doc without thinning the corpus. */
  val MinMarginCents = -100000L
  val MinQuality = 0.2

  protected var corpus: Corpus = _
  protected var dir = ""

  protected def writeInputs(d: String, spec: CorpusSpec): Unit = {
    dir = d
    corpus = CorpusGen.generate(seed, spec)
    corpus.evalFrame(spark).coalesce(1).write.parquet(s"$d/eval")
  }

  protected def eval: DataFrame = spark.read.parquet(s"$dir/eval")

  /** Failures of a kept-id set against the ground truth among ids in
    * `scope`: a planted exact copy kept beside its base, or a doc carrying
    * an eval span kept at all. */
  protected def truthFailures(kept: Set[Long], scope: Long => Boolean): Seq[String] = {
    val dupKept = corpus.exactCopies.filter { case (b, c) =>
      scope(b) && scope(c) && kept(b) && kept(c) }
    val evalKept = corpus.evalPlanted.filter(i => scope(i) && kept(i))
    (if (dupKept.nonEmpty) Seq(s"${dupKept.size} planted exact copies kept " +
      s"beside their base, e.g. ${dupKept.head}") else Nil) ++
      (if (evalKept.nonEmpty) Seq(s"${evalKept.size} eval-overlap docs kept, " +
        s"e.g. ${evalKept.head}") else Nil)
  }

  /** Planted near-dup pairs inside `scope` of which at most one member
    * survived, as a fraction of those pairs. */
  protected def nearRecall(kept: Set[Long], scope: Long => Boolean): Double = {
    val pairs = corpus.nearPairs.filter { case (a, b) => scope(a) && scope(b) }
    if (pairs.isEmpty) 1.0
    else pairs.count { case (a, b) => !(kept(a) && kept(b)) }.toDouble / pairs.size
  }

  protected def exactRemoved(kept: Set[Long], scope: Long => Boolean): Double = {
    val copies = corpus.exactCopies.filter { case (b, c) => scope(b) && scope(c) }
    if (copies.isEmpty) 1.0
    else copies.count { case (_, c) => !kept(c) }.toDouble / copies.size
  }

  /** Throughput of the public text kernels over `docs`, isolated: text MB
    * per second, median of three passes each. */
  protected def kernels(docs: DataFrame, tr: Tracer): Map[String, Double] = {
    val mb = docs.agg(sum(length(col("text")))).head().getLong(0) / 1e6
    def rate(name: String, c: org.apache.spark.sql.Column): Double = {
      val s = (0 until 3).map { _ =>
        Workload.time(tr.span("functions", name)(docs.agg(sum(c)).collect()))._2
      }
      mb / (Stats.median(s) / 1000.0)
    }
    val text = ColumnShim.expression(col("text"))
    Map(
      "functions.minhash_mb_s" -> rate("MinHashSig", size(ColumnShim.column(
        graft.functions.MinHashSig(text, 3, 64, 42L)))),
      "functions.shingle_hash_mb_s" -> rate("Dedup.shingleHashes64",
        size(Dedup.shingleHashes64(col("text"), 3))),
      "functions.token_count_mb_s" -> rate("TextAnalysis.tokenCount",
        TextAnalysis.tokenCount(col("text"))))
  }

  /** The near-dedup and decontamination operators over `docs`, each public
    * call timed on its own; the timings are of a second, warm round. */
  protected def operators(docs: DataFrame, tr: Tracer): Map[String, Double] = {
    operatorRound(docs, new Tracer(spark))
    operatorRound(docs, tr)
  }

  private def operatorRound(docs: DataFrame, tr: Tracer): Map[String, Double] = {
    def timed[A](name: String)(f: => A): (A, Double) =
      Workload.time(tr.span("operators", name)(f))
    val (cands, candMs) = timed("Dedup.lshCandidatePairs") {
      Dedup.lshCandidatePairs(docs, "id", "text").localCheckpoint()
    }
    val nCands = cands.count()
    // the verify stage of nearDupPairs, from the same public kernels:
    // hashed shingles on both sides of each candidate, threshold Jaccard
    val (nVerified, verifyMs) = timed("Dedup.jaccardHashedGE") {
      val sh = docs.select(col("id"), Dedup.shingleHashes64(col("text"), 3).as("sh"))
      cands
        .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .filter(Dedup.jaccardHashedGE(col("sh_a"), col("sh_b"), 0.8).isNotNull)
        .count()
    }
    val pairs = Dedup.nearDupPairs(docs, "id", "text", threshold = 0.8)
    val (clusters, clustersMs) = timed("Dedup.dupClusters") {
      val c = Dedup.dupClusters(pairs)
      c.count()
      c
    }
    val losers = clusters.filter(col("id") =!= col("cluster")).count()
    val rowsIn = docs.count()
    val (kept, decontamMs) = timed("Decontam.decontaminate") {
      Decontam.decontaminate(docs, eval, "id", "text", n = DecontamN).count()
    }
    Map(
      "operators.lsh_candidates_ms" -> candMs,
      "operators.verify_ms" -> verifyMs,
      "operators.clusters_ms" -> clustersMs,
      "operators.decontam_ms" -> decontamMs,
      "operators.candidate_pairs" -> nCands.toDouble,
      "operators.verify_useful_frac" ->
        (if (nCands == 0) 0.0 else nVerified.toDouble / nCands),
      "operators.near_rows_in" -> rowsIn.toDouble,
      "operators.near_rows_out" -> (rowsIn - losers).toDouble,
      "operators.decontam_rows_in" -> rowsIn.toDouble,
      "operators.decontam_rows_out" -> kept.toDouble)
  }

  protected def commonEndToEnd(ops: Seq[OpResult], wallS: Double)
      : Map[String, Double] = {
    val ms = ops.map(_.ms)
    Map("latency_p50_ms" -> Stats.p50(ms), "latency_tail_ms" -> Stats.tail(ms),
      "throughput_per_s" -> ops.map(_.items).sum / wallS)
  }
}

/** `curate_batch`: `CurationPipeline.run` over the whole seeded corpus,
  * repeated. Decontamination is on against planted eval spans, with the
  * quality floor and the model filter. Every pass is checked against the
  * planted truth, and its kept-id set must equal the set-up pass's. */
final class CurateBatchWorkload(spark: SparkSession, seed: Long, tiny: Boolean)
    extends CurateBase(spark, seed) {
  val name = "curate_batch"
  val unit = 1
  val minRounds = 3
  val repeatable = true
  val spec: CorpusSpec = CorpusSpec(docs = if (tiny) 1500 else 8000)
  private var reference = Set.empty[Long]

  private val config = CurationPipeline.Config(nearDupThreshold = 0.8,
    decontaminateNgram = DecontamN, minQuality = MinQuality,
    modelFilterMinMarginCents = Some(MinMarginCents))

  private def docs: DataFrame = spark.read.parquet(s"$dir/docs")

  def prepare(d: String): Unit = {
    writeInputs(d, spec)
    corpus.docsFrame(spark, 0, spec.docs).repartition(4)
      .write.parquet(s"$d/docs")
  }

  /** The first pass; its kept set is the one every later pass must match. */
  def warmUp(): Unit = reference = pass()

  private def pass(): Set[Long] =
    CurationPipeline.run(docs, Some(eval), "id", "text", "source", config)
      .select(col("id")).collect().map(_.getLong(0)).toSet

  def op(i: Int, tr: Tracer): OpResult = {
    val t0 = System.nanoTime()
    val kept = scala.util.Try(tr.span("operators", "CurationPipeline.run")(pass()))
    val ms = (System.nanoTime() - t0) / 1e6
    kept match {
      case scala.util.Failure(e) =>
        OpResult("pass", ms, spec.docs, Some(Workload.failureOf(e)))
      case scala.util.Success(k) =>
        val all = (_: Long) => true
        val fails = truthFailures(k, all) ++
          (if (k != reference) Seq(s"kept ${k.size} ids, set-up pass kept " +
            s"${reference.size}: the kept set changed between passes") else Nil)
        OpResult("pass", ms, spec.docs, fails.headOption,
          Map("recall" -> nearRecall(k, all), "exact_removed" -> exactRemoved(k, all)))
    }
  }

  def endToEnd(ops: Seq[OpResult], wallS: Double): Map[String, Double] =
    commonEndToEnd(ops, wallS) ++ Map(
      "answer_quality" -> Stats.mean(ops.flatMap(_.extra.get("recall"))),
      "operators.exactdup_removed_frac" ->
        Stats.mean(ops.flatMap(_.extra.get("exact_removed"))))

  def perLayer(ops: Seq[TracedOp], tr: Tracer): Map[String, Double] =
    kernels(docs, tr) ++ operators(docs, tr)
}

/** `curate_stream`: a seeded sequence of micro-batches from the same
  * generator, each curated by `StreamingCuration.curateBatch` against a
  * store that starts empty, compacted every `compactEvery` batches the
  * way `runStream` does. One round (the loop's unit) is a fresh store fed
  * every batch in id order; duplicates and near-duplicates reach back
  * across batches. At the end of a round the curated output read back
  * through `readCurated` must equal the union of the kept rows, and no
  * planted exact copy or eval-overlap doc may survive. */
final class CurateStreamWorkload(spark: SparkSession, seed: Long, tiny: Boolean)
    extends CurateBase(spark, seed) {
  val name = "curate_stream"
  val batchSize: Int = if (tiny) 300 else 500
  val batches: Int = if (tiny) 4 else 5
  /** Two compactions a round (before batches 2 and 4), so the two slowest
    * batches, which the tail reads, both carry one. */
  val compactEvery = 2
  val unit: Int = batches
  val minRounds = 1
  val repeatable = false
  val spec: CorpusSpec = CorpusSpec(docs = batchSize * batches)
  private val config = StreamingCuration.Config(nearDupThreshold = 0.8,
    decontaminateNgram = DecontamN, minQuality = MinQuality,
    compactEvery = Some(compactEvery))

  private var store = ""
  private var out = ""
  private var kept = Set.empty[Long]
  private var round = 0

  def prepare(d: String): Unit = {
    writeInputs(d, spec)
    for (b <- 0 until batches)
      corpus.docsFrame(spark, b * batchSize, (b + 1) * batchSize)
        .drop("source").coalesce(1).write.parquet(s"$d/batches/b=$b")
  }

  /** The first batch of a round and a compaction, into a throw-away
    * store. */
  def warmUp(): Unit = {
    startRound()
    runBatch(0, new Tracer(spark))
    StreamingCuration.compactState(spark, store, upToBatch = 1)
  }

  private def startRound(): Unit = {
    if (store.nonEmpty) { Files.delete(store); Files.delete(out) }
    store = s"$dir/store-$round"
    out = s"$dir/out-$round"
    round += 1
    kept = Set.empty
  }

  private def batch(b: Int): DataFrame = spark.read.parquet(s"$dir/batches/b=$b")

  /** One micro-batch as `runStream` drives it: compaction on the cadence,
    * then `curateBatch`; returns the kept ids and the compaction time. */
  private def runBatch(b: Int, tr: Tracer): (Set[Long], Double) = {
    val compactMs =
      if (b > 0 && b % compactEvery == 0)
        Workload.time(tr.span("streaming", "StreamingCuration.compactState") {
          StreamingCuration.compactState(spark, store, upToBatch = b)
        })._2
      else 0.0
    val ids = tr.span("streaming", "StreamingCuration.curateBatch") {
      StreamingCuration.curateBatch(batch(b), store, Some(eval), "id", "text",
        config, batchId = b, outPath = Some(out))
        .select(col("id")).collect().map(_.getLong(0)).toSet
    }
    (ids, compactMs)
  }

  def op(i: Int, tr: Tracer): OpResult = {
    val b = i % batches
    if (b == 0) startRound()
    val storeBefore = Files.bytes(store)
    val t0 = System.nanoTime()
    val res = scala.util.Try(runBatch(b, tr))
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case scala.util.Failure(e) =>
        OpResult("batch", ms, batchSize, Some(Workload.failureOf(e)),
          Map("batch" -> b.toDouble, "compact_ms" -> 0.0))
      case scala.util.Success((ids, compactMs)) =>
        kept ++= ids
        val stateBytes = Files.bytes(store)
        val extra = Map("batch" -> b.toDouble, "compact_ms" -> compactMs,
          "state_bytes" -> stateBytes.toDouble,
          "state_growth" -> (stateBytes - storeBefore).toDouble,
          "state_files" -> Files.count(store).toDouble,
          "input_bytes" -> Files.bytes(s"$dir/batches/b=$b").toDouble)
        if (b < batches - 1) OpResult("batch", ms, batchSize, None, extra)
        else {
          // end of round: the whole stream's output against the truth
          val upTo = (id: Long) => id < batches.toLong * batchSize
          val curated = StreamingCuration.readCurated(spark, store, out, "id")
            .select(col("id")).collect().map(_.getLong(0)).toSet
          val fails = truthFailures(kept, upTo) ++
            (if (curated != kept) Seq(s"readCurated has ${curated.size} ids, " +
              s"the batches kept ${kept.size}") else Nil)
          OpResult("batch", ms, batchSize, fails.headOption, extra ++ Map(
            "recall" -> nearRecall(kept, upTo),
            "exact_removed" -> exactRemoved(kept, upTo),
            "bytes_per_doc" -> stateBytes.toDouble / (batches * batchSize)))
        }
    }
  }

  def endToEnd(ops: Seq[OpResult], wallS: Double): Map[String, Double] =
    commonEndToEnd(ops, wallS) ++ Map(
      "answer_quality" -> Stats.mean(ops.flatMap(_.extra.get("recall"))),
      "operators.exactdup_removed_frac" ->
        Stats.mean(ops.flatMap(_.extra.get("exact_removed"))),
      "streaming.state_bytes_per_doc" ->
        Stats.median(ops.flatMap(_.extra.get("bytes_per_doc"))),
      "streaming.state_files" ->
        Stats.median(ops.filter(_.extra("batch") == batches - 1)
          .flatMap(_.extra.get("state_files"))),
      "streaming.compact_ms" ->
        Stats.median(ops.map(_.extra("compact_ms")).filter(_ > 0)),
      "streaming.batch_growth" -> {
        val third = math.max(1, batches / 3)
        val early = ops.filter(_.extra("batch") < third).map(_.ms)
        val late = ops.filter(_.extra("batch") >= batches - third).map(_.ms)
        if (early.isEmpty || late.isEmpty) 0.0
        else Stats.median(late) / Stats.median(early)
      })

  def perLayer(ops: Seq[TracedOp], tr: Tracer): Map[String, Double] = {
    val first = batch(0)
    val all = spark.read.parquet(s"$dir/batches").drop("b")
    Map(
      // task input bytes beyond the batch's own parquet: the state tables
      "streaming.state_read_bytes" -> Stats.median(ops.map(t =>
        math.max(0.0, t.c.inputBytes - t.res.extra.getOrElse("input_bytes", 0.0)))),
      "streaming.state_write_bytes" ->
        Stats.median(ops.map(_.res.extra.getOrElse("state_growth", 0.0)))) ++
      kernels(all, tr) ++ operators(first, tr)
  }
}
