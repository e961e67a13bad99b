package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded `lineitem`: TPC-H column names and value ranges, written as
  * `files` parquet part-files of `rows / files` rows each.
  *
  * Money columns are multiples of 0.25 (binary-exact), so a SUM is exact in
  * double whatever the summation order: an exact answer and a key-mod
  * reconstruction are bit-comparable to the engine's output. */
object LineitemGen {
  val StartDay = "1992-01-02"
  val Days = 2526
  /** Ship dates up to this day offset are returned ('A'/'R', status 'F');
    * later ones are 'N'/'O', except a 120-day band of 'N'/'F' before it. */
  val CutoffDay = 1263

  def write(spark: SparkSession, seed: Long, rows: Long, files: Int,
      path: String): Unit = {
    def h(salt: Int, m: Long) =
      pmod(xxhash64(col("id"), lit(seed * 1000003L + salt)), lit(m))
    val day = h(6, Days)
    spark.range(0L, rows, 1L, files)
      .select(
        (col("id") / 4).cast("long").as("l_orderkey"),
        (h(1, 20000L) + 1).as("l_partkey"),
        (h(2, 1000L) + 1).as("l_suppkey"),
        (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
        (h(3, 50L) + 1).cast("double").as("l_quantity"),
        ((h(3, 50L) + 1).cast("double") *
          (lit(900.0) + h(4, 100000L).cast("double") * lit(0.25)))
          .as("l_extendedprice"),
        (h(5, 11L).cast("double") / lit(100.0)).as("l_discount"),
        (h(7, 9L).cast("double") / lit(100.0)).as("l_tax"),
        when(day <= lit(CutoffDay - 120),
            when(h(8, 2L) === 0, lit("A")).otherwise(lit("R")))
          .otherwise(lit("N")).as("l_returnflag"),
        when(day <= lit(CutoffDay), lit("F")).otherwise(lit("O"))
          .as("l_linestatus"),
        date_add(lit(StartDay).cast("date"), day.cast("int")).as("l_shipdate"))
      .write.mode("overwrite").parquet(path)
  }
}

/** Shares and sizes of the synthetic corpus. */
final case class CorpusSpec(docs: Int, exactShare: Double = 0.08,
    nearShare: Double = 0.12, evalShare: Double = 0.01,
    junkShare: Double = 0.03, evalDocs: Int = 100, vocab: Int = 20000,
    zipfS: Double = 1.07, minWords: Int = 100, maxWords: Int = 220,
    maxEdits: Int = 3, evalSpanWords: Int = 16)

/** A generated corpus and the ground truth planted in it. Every copy and
  * variant points at an earlier base doc, so in a stream of id-ordered
  * batches the duplicates reach across batches. */
final case class Corpus(ids: Array[Long], texts: Array[String],
    sources: Array[String], evalTexts: Array[String],
    exactCopies: Seq[(Long, Long)], nearPairs: Seq[(Long, Long)],
    evalPlanted: Seq[Long], junk: Seq[Long]) {
  def textBytes: Long = texts.iterator.map(_.length.toLong).sum

  def docsFrame(spark: SparkSession, from: Int, until: Int): DataFrame = {
    import spark.implicits._
    (from until until).map(i => (ids(i), texts(i), sources(i)))
      .toDF("id", "text", "source")
  }

  def evalFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    evalTexts.indices.map(i => (i.toLong, evalTexts(i))).toDF("id", "text")
  }
}

/** Zipf-distributed pseudo-words drawn from the seed. The ten most
  * frequent words are the quality scorer's stopwords, so generated prose
  * scores like prose; the rest are random letter strings. */
object CorpusGen {
  private val Stop = Array("the", "of", "and", "to", "a", "in", "is", "it",
    "or", "an")
  private val Sources = Array("web", "books", "news", "code")

  def generate(seed: Long, spec: CorpusSpec): Corpus = {
    val rng = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 7)
    val words = Array.tabulate(spec.vocab) { r =>
      if (r < Stop.length) Stop(r)
      else {
        val len = 3 + rng.nextInt(7)
        val b = new StringBuilder
        for (_ <- 0 until len) b.append(('a' + rng.nextInt(26)).toChar)
        b.toString
      }
    }
    val cdf = {
      val w = Array.tabulate(spec.vocab)(r => 1.0 / math.pow(r + 1, spec.zipfS))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def word(): String = {
      val u = rng.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      words(math.min(i, spec.vocab - 1))
    }
    def prose(n: Int): Array[String] = Array.tabulate(n) { i =>
      if (i % 15 == 14) word() + "." else word()
    }

    val n = spec.docs
    val nExact = math.round(n * spec.exactShare).toInt
    val nNear = math.round(n * spec.nearShare).toInt
    val nEval = math.round(n * spec.evalShare).toInt
    val nJunk = math.round(n * spec.junkShare).toInt
    // roles over ids 1..n-1 (id 0 is always a base doc, so every copy has
    // an earlier base to point at): 0 base, 1 exact copy, 2 near variant,
    // 3 eval overlap, 4 junk
    val roles = Array.fill(n)(0)
    val order = (1 until n).toArray
    for (i <- order.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    var k = 0
    for ((role, cnt) <- Seq(1 -> nExact, 2 -> nNear, 3 -> nEval, 4 -> nJunk);
         _ <- 0 until cnt) { roles(order(k)) = role; k += 1 }

    val evalTexts = Array.fill(spec.evalDocs)(prose(60).mkString(" "))
    val toks = new Array[Array[String]](n)
    val bases = ArrayBuffer.empty[Int]
    val exactCopies = ArrayBuffer.empty[(Long, Long)]
    val nearPairs = ArrayBuffer.empty[(Long, Long)]
    val evalPlanted = ArrayBuffer.empty[Long]
    val junk = ArrayBuffer.empty[Long]
    def fresh(): Array[String] =
      prose(spec.minWords + rng.nextInt(spec.maxWords - spec.minWords + 1))
    for (i <- 0 until n) {
      toks(i) = roles(i) match {
        case 1 =>
          val b = bases(rng.nextInt(bases.size))
          exactCopies += ((b.toLong, i.toLong))
          toks(b)
        case 2 =>
          val b = bases(rng.nextInt(bases.size))
          nearPairs += ((b.toLong, i.toLong))
          val t = toks(b).clone()
          for (_ <- 0 until 1 + rng.nextInt(spec.maxEdits))
            t(rng.nextInt(t.length)) = word()
          t
        case 3 =>
          evalPlanted += i.toLong
          val ev = evalTexts(rng.nextInt(evalTexts.length)).split(" ")
          val start = rng.nextInt(ev.length - spec.evalSpanWords + 1)
          val t = fresh()
          val at = rng.nextInt(t.length - spec.evalSpanWords)
          Array.copy(ev, start, t, at, spec.evalSpanWords)
          t
        case 4 =>
          junk += i.toLong
          Array.fill(5 + rng.nextInt(10))(
            "#" + word() + "&" + ("%$@!" (rng.nextInt(4))))
        case _ =>
          bases += i
          fresh()
      }
    }
    Corpus(Array.tabulate(n)(_.toLong), toks.map(_.mkString(" ")),
      Array.tabulate(n)(i => Sources(rng.nextInt(Sources.length))),
      evalTexts, exactCopies.toSeq, nearPairs.toSeq, evalPlanted.toSeq,
      junk.toSeq)
  }
}
