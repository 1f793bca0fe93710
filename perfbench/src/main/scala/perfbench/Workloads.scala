package perfbench

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.{EnrichJob, GoldJob, IngestJob, ProcessingReport, Reports, ValidationReport}
import graft.serve.Dashboard
import graft.sources.{HeadlineData, Tables}

/** One operation of a workload. `run` is the timed call into the
  * engine; `check` inspects its result afterwards, untimed, and gives
  * the reason it is wrong, if it is. */
final case class Op(name: String, key: String, run: Tracer => Any,
    check: Any => Option[String])

trait Workload {
  def clients: Int
  /** Ops per pass over the workload's distinct ops; a window ends on a
    * pass boundary, so every window measures whole passes. */
  def pass: Int
  /** Builds the inputs in a fresh session. Run several times. */
  def prepare(spark: SparkSession): Unit
  /** Untimed warm-up; it also checks every distinct op it runs. */
  def warmUp(bench: Runner): Unit
  /** Op `i` of the seeded sequence. */
  def op(i: Long): Op
  /** Checks that need the state after the window: op index → reason. */
  def finalCheck(): Map[Long, String] = Map.empty
  /** Workload-level counters for the traced run. */
  def counters: Map[String, Double] = Map.empty
}

object Workloads {
  val names = Seq("pipeline_daily", "dashboard_serve", "analytics_text", "analytics_relational")

  def apply(name: String, seed: Long, data: String, work: String, pools: String,
      expected: Map[String, String]): Workload = name match {
    case "pipeline_daily" => new PipelineDaily(seed, data, work)
    case "dashboard_serve" => new DashboardServe(seed, data, expected)
    case "analytics_text" | "analytics_relational" =>
      new Analytics(seed, data, Pools.read(s"$pools/$name.tsv"), expected)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 1000003L + i)

  def shuffle[T](xs: Seq[T], r: SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  def expect(expected: Map[String, String], name: String, got: String): Option[String] =
    expected.get(name) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"$name: fingerprint $got, expected $want")
      case None => Some(s"$name: no expected fingerprint")
    }

  /** Construct, plan and run a frame, each call in its own span. */
  def timed(t: Tracer, build: => DataFrame)(action: DataFrame => Any): Any = {
    val df = t.span("op.construct")(build)
    if (t.enabled) t.span("op.plan")(df.queryExecution.executedPlan)
    t.span("op.exec")(action(df))
  }
}

/** One simulated day per op: ingest → enrich → gold → reports. */
final class PipelineDaily(seed: Long, data: String, work: String) extends Workload {
  val clients = 1
  val pass = 1
  private var spark: SparkSession = _
  private var gen: DayGen = _
  private val days = mutable.ArrayBuffer.empty[DayExpect]
  private val dayOfOp = mutable.Map.empty[Int, Long]
  private def raw = s"$work/raw"
  private def bronze = s"$work/bronze"
  private def silver = s"$work/silver"
  private def gold = s"$work/gold"
  private var nextDay = 0

  def prepare(s: SparkSession): Unit = {
    spark = s
    Runner.deleteTree(new File(work))
    new File(raw).mkdirs()
    val texts = Tables.table(s, data, "documents").orderBy("doc_id")
      .select("text").collect().map(_.getString(0)).toIndexedSeq
    gen = new DayGen(texts, seed)
    days.clear(); dayOfOp.clear(); nextDay = 0
  }

  /** Writes the next day's CSV as the newest file of the raw dir. */
  private def stage(): DayExpect = {
    val (bytes, exp) = gen.day(nextDay)
    val f = new File(f"$raw/headlines_${nextDay}%04d.csv")
    Files.write(f.toPath, bytes)
    f.setLastModified(1735689600000L + nextDay * 1000L)
    nextDay += 1
    days += exp
    exp
  }

  private def runDay(t: Tracer, exp: DayExpect): Any = {
    val ingested = t.span("jobs.ingest")(IngestJob.run(spark, raw, bronze))
    val now = Timestamp.valueOf(exp.date.atTime(12, 0))
    val appended = t.span("jobs.enrich")(EnrichJob.run(spark, bronze, silver,
      graft.enrich.MockEnricher, now))
    t.span("jobs.gold")(GoldJob.run(spark.read.parquet(silver), gold))
    val reports = t.span("jobs.reports") {
      val s = spark.read.parquet(silver)
      (Reports.validate(s, exp.date),
        Reports.summary(spark.read.parquet(bronze), s, exp.date))
    }
    (ingested, appended, reports)
  }

  private def checkDay(exp: DayExpect, res: Any): Option[String] = res match {
    case (ingested: Long, appended: Long, (v: ValidationReport, s: ProcessingReport)) =>
      val fresh = exp.freshLinks.size.toLong
      val minted = days.takeWhile(_.day <= exp.day).map(_.freshLinks.size.toLong).sum
      Seq(
        "bronze rows" -> (ingested, exp.bronzeRows.toLong),
        "appended rows" -> (appended, fresh),
        "validate total" -> (v.totalToday, fresh),
        "validate errors" -> (v.errorsToday, 0L),
        "summary raw" -> (s.totalRaw, exp.bronzeRows.toLong),
        "summary processed" -> (s.totalProcessed, minted),
        "summary today" -> (s.processedToday, fresh),
        "summary pending" -> (s.pending, 0L))
        .collectFirst { case (what, (got, want)) if got != want =>
          s"day ${exp.day}: $what $got, expected $want" }
    case other => Some(s"day ${exp.day}: unexpected result $other")
  }

  private def dayOp(i: Long): Op = {
    val exp = stage()
    dayOfOp(exp.day) = i
    Op(s"day_${exp.day}", s"day_${exp.day}", t => runDay(t, exp), r => checkDay(exp, r))
  }

  /** Four days: a traced second window ran 18 % faster after two. */
  def warmUp(bench: Runner): Unit = bench.warm((1L to 4L).map(i => () => dayOp(-i)), 1)

  def op(i: Long): Op = dayOp(i)

  /** Silver holds exactly the valid links minted so far, once each,
    * and gold's per-date totals equal each day's appends. */
  override def finalCheck(): Map[Long, String] = {
    val s = spark.read.parquet(silver)
    val links = s.select("raw_link").collect().map(_.getString(0))
    val perDate = s.groupBy(to_date(col("processed_at"))).count().collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    val goldTotals = spark.read.parquet(s"$gold/daily_sentiment_analysis").collect()
      .map(r => r.getAs[java.sql.Date]("analysis_date").toLocalDate ->
        r.getAs[Long]("total_headlines")).toMap
    val minted = gen.mintedLinks.toSet
    val global =
      if (links.length != links.distinct.length)
        Some(s"silver raw_link not unique: ${links.length - links.distinct.length} repeats")
      else if (links.toSet != minted)
        Some(s"silver links differ from minted: ${(links.toSet -- minted).size} extra, " +
          s"${(minted -- links.toSet).size} missing")
      else None
    val perDay = days.flatMap { d =>
      val want = d.freshLinks.size.toLong
      val got = (perDate.getOrElse(d.date, 0L), goldTotals.getOrElse(d.date, 0L))
      if (got == (want, want)) None
      else Some(dayOfOp(d.day) -> s"day ${d.day}: silver/gold rows $got, expected $want")
    }.toMap
    global.fold(perDay)(why => dayOfOp.values.map(_ -> why).toMap ++ perDay)
  }

  override def counters: Map[String, Double] = {
    val n = days.size.max(1).toDouble
    val files = Option(new File(silver).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet"))
    Map(
      "jobs.rows_raw" -> days.map(_.rawRows).sum / n,
      "jobs.rows_bronze" -> days.map(_.bronzeRows).sum / n,
      "jobs.rows_rejected" -> days.map(_.rejectedRows).sum / n,
      "jobs.rows_pending" -> days.map(_.freshLinks.size).sum / n,
      "jobs.rows_appended" -> days.map(_.freshLinks.size).sum / n,
      "sources.silver_files" -> files.length.toDouble,
      "sources.silver_bytes" -> files.map(_.length).sum.toDouble)
  }
}

/** Dashboard requests over the cached sf0.1 silver: the registered
  * serve queries plus the parameterized facade. */
final class DashboardServe(seed: Long, data: String, expected: Map[String, String])
    extends Workload {
  val clients = 2
  private var spark: SparkSession = _
  private var silver: DataFrame = _
  private var ref: DashboardRef = _
  private val served = graft.serve.Queries.queries.keys.toSeq.sorted
  private val facade = Seq("dailySentiment", "categoryCounts", "confidenceStats",
    "recentHeadlines", "kpis", "topCategoryTimeSeries")
  val kinds: Seq[String] = served ++ facade.map("facade." + _)
  def pass: Int = kinds.size
  private val checked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def prepare(s: SparkSession): Unit = {
    s.catalog.clearCache()
    spark = s
    silver = HeadlineData.silverCached(s, data)
    ref = new DashboardRef(silver.collect().toSeq)
  }

  /** Rounds over every kind until the round median settles, at most
    * four rounds and no new round after 20 s. */
  def warmUp(bench: Runner): Unit = {
    val t0 = System.nanoTime()
    var last = Double.NaN
    var round = 0
    var settled = false
    while (round < 4 && !settled && System.nanoTime() - t0 < 20000000000L) {
      val p50 = bench.warm(kinds.indices.map(k => () => op(-1L - round * kinds.size - k)),
        bench.cores)
      System.err.println(f"[perfbench] warm-up round $round: median $p50%.1f ms")
      settled = round >= 1 && math.abs(p50 - last) <= 0.1 * last
      last = p50
      round += 1
    }
  }

  def op(i: Long): Op = {
    val kind =
      if (i < 0) kinds(((-1L - i) % kinds.size).toInt)
      else Workloads.shuffle(kinds, Workloads.rng(seed, 1, i / kinds.size))((i % kinds.size).toInt)
    val r = Workloads.rng(seed, 2, i)
    val a = r.nextInt(7)
    val (start, end) = (LocalDate.of(2024, 1, 1).plusDays(a),
      LocalDate.of(2024, 1, 1).plusDays(a + r.nextInt(7 - a)))
    val k = 1 + r.nextInt(5)
    val n = Seq(5, 10, 25, 50)(r.nextInt(4))
    def once(key: String)(f: Any => Option[String]): Any => Option[String] =
      res => if (checked.add(key)) f(res) else None
    def rows(t: Tracer, df: => DataFrame): Any =
      Workloads.timed(t, df)(d => (d.columns.toSeq, d.collect().toSeq))
    kind match {
      case "facade.dailySentiment" =>
        val key = s"$kind($start,$end)"
        Op(kind, key, t => rows(t, Dashboard.dailySentiment(silver, start, end)),
          once(key)(res => ref.compare(key, res, ref.dailySentiment(start, end))))
      case "facade.categoryCounts" =>
        val key = s"$kind($start,$end)"
        Op(kind, key, t => rows(t, Dashboard.categoryCounts(silver, start, end)),
          once(key)(res => ref.compare(key, res, ref.categoryCounts(start, end))))
      case "facade.confidenceStats" =>
        val key = s"$kind($start,$end)"
        Op(kind, key, t => rows(t, Dashboard.confidenceStats(silver, start, end)),
          once(key)(res => ref.compare(key, res, ref.confidenceStats(start, end))))
      case "facade.recentHeadlines" =>
        val key = s"$kind($n)"
        Op(kind, key, t => rows(t, Dashboard.recentHeadlines(silver, n)),
          once(key)(res => ref.compare(key, res, ref.recentHeadlines(n))))
      case "facade.kpis" =>
        val key = s"$kind($start,$end)"
        Op(kind, key, t => t.span("op.exec")(Dashboard.kpis(silver, start, end)),
          once(key)(res => ref.compareKpis(key, res, start, end)))
      case "facade.topCategoryTimeSeries" =>
        val key = s"$kind($start,$end,$k)"
        Op(kind, key, t => rows(t, Dashboard.topCategoryTimeSeries(silver, start, end, k)),
          once(key)(res => ref.compare(key, res, ref.topCategories(start, end, k))))
      case name =>
        val fn = graft.serve.Queries.queries(name)
        Op(name, name, t => rows(t, fn(spark, data)), once(name) {
          case (cols: Seq[String @unchecked], rs: Seq[Row @unchecked]) =>
            Workloads.expect(expected, name, Fingerprint.of(cols, rs.iterator))
          case other => Some(s"$name: unexpected result $other")
        })
    }
  }
}

/** Registry queries from a committed pool, each timed to a
  * whole-result noop write. The sample is the middle member of every
  * cost stratum (the pool file lists members in cost order), so every
  * seed measures the same cost profile; the seed sets the order. */
final class Analytics(seed: Long, data: String, pool: Seq[(String, Int)],
    expected: Map[String, String]) extends Workload {
  val clients = 1
  private var spark: SparkSession = _
  val sample: Seq[String] = Workloads.shuffle(
    pool.groupBy(_._2).toSeq.sortBy(_._1).map { case (_, qs) => qs(qs.size / 2)._1 },
    Workloads.rng(seed, 4, 0))
  def pass: Int = sample.size

  def prepare(s: SparkSession): Unit = {
    spark = s
    Tables.tpch.foreach(t => Tables.table(s, data, t).schema)
  }

  /** One pass over the sample, each query collected and checked; a
    * query that fails here fails every timed op of the run. */
  def warmUp(bench: Runner): Unit = bench.warm(sample.map { name =>
    val fn = graft.SparkEntry.queries(name)
    () => Op(name, name, _ => Fingerprint.of(fn(spark, data)), {
      case got: String => Workloads.expect(expected, name, got)
      case other => Some(s"$name: unexpected result $other")
    })
  }, bench.cores)

  def op(i: Long): Op = {
    val name = sample((i % sample.size).toInt)
    val fn = graft.SparkEntry.queries(name)
    Op(name, name,
      t => Workloads.timed(t, fn(spark, data))(
        _.write.format("noop").mode("overwrite").save()),
      _ => None)
  }
}

/** Plain-Scala replay of the dashboard facade over collected silver
  * rows: the reference the facade's results are checked against. */
final class DashboardRef(rows: Seq[Row]) {
  import DashboardRef.R
  private val all = rows.map { r =>
    val ts = r.getAs[Timestamp]("processed_at")
    R(ts.toLocalDateTime.toLocalDate, ts, r.getAs[String]("sentiment"),
      r.getAs[String]("category"), r.getAs[Double]("confidence_score"),
      r.getAs[String]("title"), r.getAs[String]("link"))
  }
  private def in(s: LocalDate, e: LocalDate) =
    all.filter(r => !r.date.isBefore(s) && !r.date.isAfter(e))
  private implicit val dateOrd: Ordering[LocalDate] = Ordering.fromLessThan(_ isBefore _)

  def dailySentiment(s: LocalDate, e: LocalDate): Seq[Seq[Any]] =
    in(s, e).groupBy(_.date).toSeq.sortBy(_._1).map { case (d, rs) =>
      Seq(d, rs.count(_.sentiment == "Positiva").toLong, rs.count(_.sentiment == "Negativa").toLong,
        rs.count(_.sentiment == "Neutra").toLong, rs.count(_.link != null).toLong)
    }

  private def counts(s: LocalDate, e: LocalDate): Seq[(LocalDate, String, Long)] =
    in(s, e).filter(_.category != null).groupBy(r => (r.date, r.category)).toSeq
      .map { case ((d, c), rs) => (d, c, rs.size.toLong) }

  def categoryCounts(s: LocalDate, e: LocalDate): Seq[Seq[Any]] =
    counts(s, e).sortBy { case (d, c, n) => (d, -n, c) }(
      Ordering.Tuple3(dateOrd.reverse, Ordering.Long, Ordering.String))
      .map { case (d, c, n) => Seq(d, c, n) }

  def confidenceStats(s: LocalDate, e: LocalDate): Seq[Seq[Any]] =
    in(s, e).groupBy(r => (r.date, r.sentiment)).toSeq
      .sortBy(_._1)(Ordering.Tuple2(dateOrd.reverse, Ordering.String))
      .map { case ((d, sent), rs) =>
        val avg = rs.map(r => BigDecimal(r.conf)).sum / rs.size
        Seq(d, sent, avg.setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble,
          rs.map(_.conf).min, rs.map(_.conf).max)
      }

  def recentHeadlines(n: Int): Seq[Seq[Any]] =
    all.sortBy(r => (r.ts.getTime, r.link))(
      Ordering.Tuple2(Ordering.Long.reverse, Ordering.String.reverse)).take(n)
      .map(r => Seq(r.title, r.link, r.sentiment, r.category, r.ts))

  def topCategories(s: LocalDate, e: LocalDate, k: Int): Seq[Seq[Any]] = {
    val c = counts(s, e)
    val top = c.groupBy(_._2).toSeq.map { case (cat, xs) => (cat, xs.map(_._3).sum) }
      .sortBy { case (cat, n) => (-n, cat) }.take(k).map(_._1).toSet
    c.filter(x => top(x._2)).sortBy { case (d, cat, _) => (d, cat) }
      .map { case (d, cat, n) => Seq(cat, d, n) }
  }

  /** Ordered comparison; doubles agree within 1e-3 (the facade rounds
    * averages to three places after a floating-point sum). */
  def compare(key: String, res: Any, want: Seq[Seq[Any]]): Option[String] = res match {
    case (_, got: Seq[Row @unchecked]) =>
      val g = got.map(_.toSeq)
      def same(a: Any, b: Any): Boolean = (a, b) match {
        case (x: Double, y: Double) => math.abs(x - y) <= 1e-3
        case _ => Fingerprint.value(a) == Fingerprint.value(b)
      }
      if (g.size != want.size) Some(s"$key: ${g.size} rows, expected ${want.size}")
      else g.zip(want).zipWithIndex.collectFirst {
        case ((a, b), i) if a.size != b.size || !a.zip(b).forall { case (x, y) => same(x, y) } =>
          s"$key: row $i is ${a.mkString(",")}, expected ${b.mkString(",")}"
      }
    case other => Some(s"$key: unexpected result $other")
  }

  def compareKpis(key: String, res: Any, s: LocalDate, e: LocalDate): Option[String] = {
    val rs = in(s, e)
    val total = rs.size.toLong
    val pos = rs.count(_.sentiment == "Positiva").toLong
    val days = rs.map(_.date).distinct.size
    val want = Dashboard.Kpis(total, pos, rs.count(_.sentiment == "Negativa").toLong,
      rs.count(_.sentiment == "Neutra").toLong,
      if (total == 0) 0.0 else pos * 100.0 / total,
      if (days == 0) 0.0 else total.toDouble / days)
    if (res == want) None else Some(s"$key: $res, expected $want")
  }
}

object DashboardRef {
  private final case class R(date: LocalDate, ts: Timestamp, sentiment: String,
      category: String, conf: Double, title: String, link: String)
}
