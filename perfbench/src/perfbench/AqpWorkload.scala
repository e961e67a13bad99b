package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.AqeSession
import graft.exec.{ApproxPlanner, SpecExecutor}
import graft.model.{AggKind, SamplingStrategy}
import graft.parser.QueryParser
import graft.plans.GraftSqlParser

/** One single-table aggregate query of the interactive stream.
  * `door` is the public entry point: `sql` (spark.sql with the graft
  * extension), `lower` (GraftSqlParser.lowerSql), `spec` (QueryParser →
  * ApproxPlanner → SpecExecutor) or `aqe` (AqeSession). */
final case class AqpQuery(id: Int, door: String, design: String, agg: String,
    value: String, where: String, group: Option[String], pct: Double,
    step: Int, offset: Int, errPct: Double, seed: Long) {
  def kind: String = s"$door.$design${if (group.isDefined) ".grouped" else ""}"
  def sampled: Boolean = design != "exact"
  def aggKind: AggKind = AggKind.parse(agg)
  def hasCi: Boolean = Set("uniform_ci", "file", "adaptive")(design)
  /** Column name as QueryParser and SpecExecutor see it. */
  def specColumn: String = if (agg == "count") "*" else value
}

/** An estimate for one group ("" when ungrouped), with its CI if any. */
final case class Est(v: Double, lo: Double = Double.NaN, hi: Double = Double.NaN)

/** `aqp_interactive`: a seeded, closed-loop stream of single-table
  * aggregate queries over a generated `lineitem`, spread over the four
  * public entry points and six sampling designs, about a fifth exact.
  * Every answer is checked against exact answers computed at set-up with
  * plain Spark (no graft call): exact queries and systematic estimates
  * must match bit for bit (the systematic one against the key-mod
  * reconstruction), sampled ones feed the error and coverage metrics. */
final class AqpWorkload(spark: SparkSession, seed: Long, tiny: Boolean)
    extends Workload {
  val name = "aqp_interactive"
  private val rows = if (tiny) 20000L else 150000L
  private val files = if (tiny) 4 else 8
  private val pool: IndexedSeq[AqpQuery] = AqpWorkload.pool(seed)
  val unit: Int = pool.size
  val minRounds = 3
  val repeatable = true

  /** (query id, group) → exact answer; (query id, group) → reconstruction. */
  private var exact = Map.empty[(Int, String), Double]
  private var recon = Map.empty[(Int, String), Double]
  private var exactN = Map.empty[(Int, String), Long]
  private var path = ""
  private var totalFiles = 0

  def prepare(dir: String): Unit = {
    path = s"$dir/lineitem"
    LineitemGen.write(spark, seed, rows, files, path)
    spark.read.parquet(path).createOrReplaceTempView("lineitem")
    totalFiles = spark.table("lineitem").inputFiles.length
    computeReference()
  }

  /** Every query of the pool once, so no plan shape compiles in the loop. */
  def warmUp(): Unit = pool.foreach(q => run(q, new Tracer(spark)))

  /** Exact answers and key-mod reconstructions for the whole pool from
    * plain Spark aggregates over the cells of all grouping columns: sums
    * of binary-exact money values are exact in any order, so the cells
    * roll up to any grouping without rounding. */
  private def computeReference(): Unit = {
    val base = spark.read.parquet(path)
    val cols = base.columns.toIndexedSeq
    val contentKey = abs(xxhash64(struct(cols.map(col): _*)))
    val aqeKey = col("l_orderkey") * 8191 + col("l_linenumber") * 131
    def masks(q: AqpQuery): Seq[(String, Column)] = {
      val w = expr(q.where)
      val sys = q.design match {
        case "systematic" if q.door == "aqe" =>
          Seq("recon" -> (w && pmod(aqeKey, lit(q.step.toLong)) === lit(q.offset.toLong)))
        case "systematic" =>
          Seq("recon" -> (w && pmod(contentKey, lit(q.step.toLong)) === lit(0L)))
        case _ => Nil
      }
      ("exact" -> w) +: sys
    }
    val ex = mutable.Map.empty[(Int, String), Double]
    val rc = mutable.Map.empty[(Int, String), Double]
    val en = mutable.Map.empty[(Int, String), Long]
    for (chunk <- pool.grouped(10)) {
      val aggs = chunk.flatMap { q =>
        val v = col(if (q.agg == "count") "l_quantity" else q.value)
        masks(q).flatMap { case (tag, m) =>
          Seq(sum(when(m, v)).as(s"s_${tag}_${q.id}"),
            count(when(m, v)).as(s"c_${tag}_${q.id}"))
        }
      }
      val cells = base.groupBy(AqpWorkload.GroupCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*).collect()
      for (q <- chunk; (tag, _) <- masks(q)) {
        val target = if (tag == "exact") ex else rc
        val byGroup = cells.groupBy { r =>
          q.group.map(g => String.valueOf(r.get(r.fieldIndex(g)))).getOrElse("")
        }
        for ((g, rs) <- byGroup) {
          val s = rs.map(r => if (r.isNullAt(r.fieldIndex(s"s_${tag}_${q.id}"))) 0.0
            else r.getDouble(r.fieldIndex(s"s_${tag}_${q.id}"))).sum
          val c = rs.map(r => r.getLong(r.fieldIndex(s"c_${tag}_${q.id}"))).sum
          val scale = if (tag == "recon") q.step.toDouble else 1.0
          if (tag == "exact") en((q.id, g)) = c
          if (c > 0) target((q.id, g)) = q.agg match {
            case "sum" => s * scale
            case "count" => c.toDouble * scale
            case _ => s / c
          }
        }
      }
    }
    exact = ex.toMap
    recon = rc.toMap
    exactN = en.toMap
  }

  private def num(r: Row, i: Int): Double =
    if (r.isNullAt(i)) Double.NaN
    else r.get(i) match {
      case n: java.lang.Number => n.doubleValue
      case other => other.toString.toDouble
    }

  private def sqlText(q: AqpQuery, approx: Boolean): String = {
    val arg = if (q.agg == "count") "*" else q.value
    val call =
      if (approx) s"APPROX_${q.agg.toUpperCase}($arg, ${q.pct})"
      else s"${q.agg.toUpperCase}($arg)"
    q.group match {
      case Some(g) =>
        s"SELECT $g, $call AS est FROM lineitem WHERE ${q.where} GROUP BY $g"
      case None => s"SELECT $call AS est FROM lineitem WHERE ${q.where}"
    }
  }

  private def parserText(q: AqpQuery): String =
    s"SELECT ${q.agg.toUpperCase}(${q.specColumn}) FROM lineitem WHERE ${q.where}" +
      q.group.map(g => s" GROUP BY $g").getOrElse("")

  /** Rows → estimates: group key from column `g` (if grouped), value from
    * `v`, CI bounds from `lo`/`hi` when present. */
  private def ests(rows: Array[Row], v: String,
      lo: Option[String], hi: Option[String], g: Option[String]): Map[String, Est] =
    rows.map { r =>
      val key = g.map(c => String.valueOf(r.get(r.fieldIndex(c)))).getOrElse("")
      key -> Est(num(r, r.fieldIndex(v)),
        lo.map(c => num(r, r.fieldIndex(c))).getOrElse(Double.NaN),
        hi.map(c => num(r, r.fieldIndex(c))).getOrElse(Double.NaN))
    }.toMap

  /** Execute one query through its entry point; returns the estimates
    * and the grouped ladder's round count (0 when not reported). */
  private def run(q: AqpQuery, tr: Tracer): (Map[String, Est], Int) = {
    val g = q.group
    q.door match {
      case "sql" =>
        spark.conf.set("spark.graft.approx.sql.seed", q.seed.toString)
        val df = tr.span("plans", "spark.sql")(spark.sql(sqlText(q, q.sampled)))
        (tr.span("exec", "collect")(ests(df.collect(), "est", None, None, g)), 0)
      case "lower" =>
        val df = tr.span("plans", "GraftSqlParser.lowerSql") {
          GraftSqlParser.lowerSql(spark, sqlText(q, q.sampled), q.seed)
        }
        (tr.span("exec", "collect")(ests(df.collect(), "est", None, None, g)), 0)
      case "spec" =>
        val spec = tr.span("plans", "QueryParser.parse+ApproxPlanner.plan") {
          val parsed = q.design match {
            case "exact" => QueryParser.parse(parserText(q))
            case "adaptive" =>
              QueryParser.parse(parserText(q), errorThresholdPct = Some(q.errPct))
            case _ =>
              QueryParser.parse(parserText(q), samplePercent = Some(q.pct),
                withCi = q.hasCi)
          }
          val method = q.design match {
            case "systematic" => Some("systematic")
            case "file" => Some("file")
            case _ => None
          }
          ApproxPlanner.plan(parsed, method, compat = false, seed = Some(q.seed))
        }
        val alias = s"${q.agg}_${if (q.specColumn == "*") "all" else q.specColumn}"
        val rows = tr.span("exec", "SpecExecutor.run")(SpecExecutor.run(spark, spec).collect())
        val ci = q.hasCi
        (ests(rows, alias, Option.when(ci)(s"${alias}_ci_lower"),
          Option.when(ci)(s"${alias}_ci_upper"), g), 0)
      case "aqe" =>
        tr.span("exec", s"AqeSession.${q.design}") {
          val df = spark.table("lineitem").filter(expr(q.where))
          val t = AqeSession(spark).table(df,
            col("l_orderkey") * 8191 + col("l_linenumber") * 131)
          val v = if (q.agg == "count") col("l_quantity") else col(q.value)
          val k = q.aggKind
          (q.design, g) match {
            case ("exact", None) =>
              (ests(t.approxAgg(k, v, SamplingStrategy.Exact).collect(),
                "value", None, None, None), 0)
            case ("systematic", None) =>
              (ests(t.approxAgg(k, v, SamplingStrategy.Systematic(q.step,
                q.offset)).collect(), "value", None, None, None), 0)
            case ("systematic", Some(gc)) =>
              (ests(t.approxAggBy(k, v, Seq(col(gc)), SamplingStrategy
                .Systematic(q.step, q.offset)).collect(), "value", None,
                None, g), 0)
            case ("uniform_ci", None) =>
              (ests(t.approxAggCi(k, v, SamplingStrategy.Uniform(q.pct / 100,
                q.seed)).collect(), "value", Some("value_ci_lower"),
                Some("value_ci_upper"), None), 0)
            case ("uniform_ci", Some(gc)) =>
              (ests(t.approxAggCiBy(k, v, Seq(col(gc)), SamplingStrategy
                .Uniform(q.pct / 100, q.seed)).collect(), "value",
                Some("value_ci_lower"), Some("value_ci_upper"), g), 0)
            case ("adaptive", None) =>
              val r = t.adaptiveAgg(k, v, q.errPct)
              (Map("" -> Est(r.value, r.ciLower, r.ciUpper)), 0)
            case ("adaptive", Some(gc)) =>
              val rows = t.adaptiveAggBy(k, v, col(gc), q.errPct).collect()
              val rounds = rows.map(r => r.getInt(r.fieldIndex("rounds_used")))
              (ests(rows, "sum_est", Some("ci_lower"), Some("ci_upper"),
                Some("group")), if (rounds.isEmpty) 0 else rounds.max)
            case other => throw new IllegalStateException(s"no aqe form for $other")
          }
        }
    }
  }

  def op(i: Int, tr: Tracer): OpResult = {
    // each round draws fresh Bernoulli samples, so its CI answers are new
    val round = i / pool.size
    val slot = pool(AqpWorkload.order(seed, round, pool.size)(i % pool.size))
    val q = slot.copy(seed = slot.seed + round * 1000003L)
    def flag(b: Boolean) = if (b) 1.0 else 0.0
    val about = Map("sampled" -> flag(q.sampled),
      "adaptive" -> flag(q.design == "adaptive"), "file" -> flag(q.design == "file"),
      "query" -> q.id.toDouble)
    val t0 = System.nanoTime()
    val attempt = scala.util.Try(run(q, tr))
    val ms = (System.nanoTime() - t0) / 1e6
    attempt match {
      case scala.util.Failure(e) =>
        OpResult(q.kind, ms, 1, Some(s"query ${q.id}: ${Workload.failureOf(e)}"),
          about + ("rounds" -> 0.0))
      case scala.util.Success((got, rounds)) =>
        val (failure, extra) = check(q, got)
        OpResult(q.kind, ms, 1, failure, extra ++ about + ("rounds" -> rounds.toDouble))
    }
  }

  /** Output check of one answer. Returns the failure (if any) and, for
    * sampled answers, the per-group relative errors and CI hits as
    * `err.<g>` / `cov.<g>` entries. Exact and systematic answers must match
    * bit for bit; other sampled ones must fall within six standard errors
    * of a unit-variance sample of the design's expected size (and within
    * 25%), and may omit only groups too small to expect 50 sampled rows. */
  private def check(q: AqpQuery, got: Map[String, Est])
      : (Option[String], Map[String, Double]) = {
    val want = exact.collect { case ((id, g), v) if id == q.id => g -> v }
    val frac = q.design match {
      case "adaptive" => 0.01
      case "exact" => 1.0
      case _ => q.pct / 100
    }
    val required = want.keySet.filter(g => exactN((q.id, g)) * frac >= 50)
    if (!got.keySet.subsetOf(want.keySet) || !required.subsetOf(got.keySet) ||
        (q.design == "exact" && got.keySet != want.keySet))
      return (Some(s"query ${q.id}: groups ${got.keySet} vs ${want.keySet}"), Map.empty)
    val extra = mutable.Map.empty[String, Double]
    for ((g, e) <- got) {
      val x = want(g)
      q.design match {
        case "exact" =>
          if (e.v != x)
            return (Some(s"query ${q.id} group '$g': exact ${e.v} != $x"), Map.empty)
        case _ =>
          if (q.design == "systematic" && e.v != recon((q.id, g)))
            return (Some(s"query ${q.id} group '$g': systematic ${e.v} != " +
              s"reconstruction ${recon((q.id, g))}"), Map.empty)
          val rel = if (x == 0) 0.0 else 100.0 * math.abs(e.v - x) / math.abs(x)
          val tol = math.max(25.0, 600.0 / math.sqrt(exactN((q.id, g)) * frac))
          if (!(rel <= tol))
            return (Some(s"query ${q.id} group '$g': estimate ${e.v} is " +
              s"$rel% off exact $x"), Map.empty)
          extra(s"err.$g") = rel
          if (q.hasCi)
            extra(s"cov.$g") = if (e.lo <= x && x <= e.hi) 1.0 else 0.0
      }
    }
    (None, extra.toMap)
  }

  private def errs(ops: Seq[OpResult]): Seq[Double] =
    ops.flatMap(_.extra.collect { case (k, v) if k.startsWith("err.") => v })

  def endToEnd(ops: Seq[OpResult], wallS: Double): Map[String, Double] = {
    val ms = ops.map(_.ms)
    val cov = ops.flatMap(_.extra.collect { case (k, v) if k.startsWith("cov.") => v })
    Map("latency_p50_ms" -> Stats.p50(ms), "latency_tail_ms" -> Stats.tail(ms),
      "throughput_per_s" -> ops.size / wallS,
      "answer_quality" -> Stats.mean(cov),
      "exec.rel_error_p95_pct" -> Stats.quantile(errs(ops), 0.95),
      "exec.exact_latency_p50_ms" ->
        Stats.median(ops.filter(_.extra("sampled") == 0).map(_.ms)))
  }

  def perLayer(ops: Seq[TracedOp], tr: Tracer): Map[String, Double] = {
    def med(f: TracedOp => Double, sel: TracedOp => Boolean = _ => true) =
      Stats.median(ops.filter(sel).map(f))
    val sampled = (t: TracedOp) => t.res.extra("sampled") == 1
    val adaptive = (t: TracedOp) => t.res.extra("adaptive") == 1
    val fileLevel = (t: TracedOp) => t.res.extra("file") == 1
    val exactMs = ops.filterNot(sampled).map(_.res.ms)
    val sampledMs = ops.filter(sampled).map(_.res.ms)
    // resolve: the file-level design's part-file listing and re-planned
    // scan, timed on its own through the sources layer
    val resolve = (0 until 5).map { _ =>
      Workload.time(tr.span("sources", "FileSampling.fromFiles") {
        graft.sources.FileSampling.fromFiles(spark,
          spark.table("lineitem").inputFiles.toIndexedSeq, 4, 0)
      })._2
    }
    // MoneyDec over every lineitem row, isolated; median of 3
    val moneyS = (0 until 3).map { _ =>
      Workload.time(tr.span("functions", "MoneyDec.dec") {
        spark.table("lineitem")
          .agg(sum(graft.functions.MoneyDec.dec(col("l_extendedprice"), 18, 2)))
          .collect()
      })._2 / 1000.0
    }
    Map(
      "plans.lower_ms" -> med(t => spanMs(tr, t, "plans", "GraftSqlParser.lowerSql"),
        _.res.kind.startsWith("lower.")),
      "plans.parse_plan_ms" -> med(t => spanMs(tr, t, "plans",
        "QueryParser.parse+ApproxPlanner.plan"), _.res.kind.startsWith("spec.")),
      "exec.rows_sampled" -> med(_.c.rowsIntoAgg.toDouble, sampled),
      "exec.adaptive_rounds" -> med(t =>
        if (t.res.extra("rounds") > 0) t.res.extra("rounds")
        else (t.c.actions - 1).toDouble, adaptive),
      // rows the last scanning action (the final round) aggregated, over
      // all rows the operation scanned
      "exec.adaptive_useful_frac" -> med(t =>
        t.c.actionLog.reverseIterator.find(_._2 > 0) match {
          case Some((_, _, intoAgg)) => intoAgg.toDouble / t.c.rowsScanned
          case None => 0.0
        }, adaptive),
      "exec.sampled_speedup" ->
        (if (sampledMs.isEmpty) 0.0 else Stats.median(exactMs) / Stats.median(sampledMs)),
      "sources.files_read_frac" -> med(t =>
        t.c.maxFilesPerScan.toDouble / math.max(1, totalFiles), fileLevel),
      "sources.resolve_ms" -> Stats.median(resolve),
      "functions.money_dec_mrows_s" -> rows / 1e6 / Stats.median(moneyS))
  }

  /** Duration of the traced operation's span of one layer and name. */
  private def spanMs(tr: Tracer, t: TracedOp, layer: String, name: String): Double =
    tr.spans.find(s => s.op == t.c.opId && s.layer == layer && s.name == name)
      .map(_.ms).getOrElse(0.0)
}

object AqpWorkload {
  /** Grouping columns, and the cells the reference answers are kept in. */
  val GroupCols = Seq("l_tax", "l_linenumber", "l_returnflag", "l_linestatus",
    "l_discount")

  /** The seeded query pool. Everything that sets a query's cost is fixed
    * by its slot: entry point, design, aggregate, value column, grouping
    * column, sample rate or step, error target and predicate shape. The
    * value column belongs there because the adaptive ladder needs about
    * twice the rounds on l_extendedprice as on l_quantity. The seed draws
    * the predicate bounds, the systematic offsets and the sampling seeds. */
  def pool(seed: Long): IndexedSeq[AqpQuery] = {
    val rng = new java.util.Random(seed * 31 + 17)
    val mix: Seq[(String, String, Int, Int)] = Seq( // door, design, n, grouped
      ("sql", "bernoulli", 2, 1), ("lower", "bernoulli", 1, 1),
      ("sql", "exact", 2, 1), ("lower", "exact", 1, 0),
      ("spec", "exact", 1, 1), ("aqe", "exact", 1, 0),
      ("spec", "systematic", 2, 1), ("aqe", "systematic", 2, 1),
      ("spec", "uniform_ci", 3, 3), ("aqe", "uniform_ci", 2, 2),
      ("spec", "file", 2, 0),
      ("spec", "adaptive", 1, 0), ("aqe", "adaptive", 1, 0),
      ("aqe", "adaptive", 1, 1))
    val aggCycle = Seq("sum", "avg", "count", "sum")
    val start = java.time.LocalDate.parse(LineitemGen.StartDay)
    def where(shape: Int): String = shape match {
      case 0 =>
        val w = 1000 + rng.nextInt(200)
        val a = rng.nextInt(LineitemGen.Days - w)
        s"l_shipdate BETWEEN DATE'${start.plusDays(a)}' AND DATE'${start.plusDays(a + w)}'"
      case 1 =>
        val lo = 1 + rng.nextInt(15)
        s"l_quantity BETWEEN $lo AND ${lo + 24}"
      case _ => s"l_discount <= 0.0${5 + rng.nextInt(2)}"
    }
    var id = 0
    mix.flatMap { case (door, design, n, grouped) =>
      (0 until n).map { k =>
        val step = if (design == "file") 4 else if (k % 2 == 0) 10 else 20
        val group = Option.when(k < grouped)(design match {
          case "adaptive" => "l_linenumber"
          case "uniform_ci" => if (k % 2 == 0) "l_discount" else "l_tax"
          case _ => GroupCols(k % GroupCols.size)
        })
        val q = AqpQuery(id, door, design, aggCycle(k % 4),
          Seq("l_extendedprice", "l_quantity")(id % 2), where(id % 3),
          group,
          pct = design match {
            case "systematic" | "file" => 100.0 / step
            case "uniform_ci" => if (k % 2 == 0) 10.0 else 5.0
            case _ => 10.0
          },
          step = step,
          offset = if (door == "aqe") rng.nextInt(step) else 0,
          errPct = if (group.isDefined) 5.0 else 2.0,
          seed = rng.nextInt(1 << 20).toLong)
        id += 1
        q
      }
    }.toIndexedSeq
  }

  /** The order of round `round`: a seeded permutation of the pool. */
  def order(seed: Long, round: Int, n: Int): IndexedSeq[Int] = {
    val rng = new java.util.Random(seed * 7919 + round)
    val a = (0 until n).toArray
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }
}
