package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The two analytics pools and the rule that builds them.
  *
  * Rule: every `SparkEntry.queries` name that is not a `serve.Queries`
  * entry goes to `analytics_text` when its DuckDB oracle SQL reads
  * `documents` or `embeddings`, else to `analytics_relational`. A
  * query whose measured cost (`costs.tsv`) exceeds `capSeconds` cannot
  * finish inside one run window and is listed as excluded instead; a
  * query that throws stays in its pool.
  * Each pool is cut by cost rank into equal-count strata, as many as
  * make the middle members of all strata (the sample `Analytics` runs)
  * cost about one run window in a freshly started JVM.
  */
object Pools {
  val capSeconds = 3.0
  val strata = Map("analytics_text" -> 8, "analytics_relational" -> 10)
  private val textTables = "\\b(documents|embeddings)\\b".r

  def read(path: String): Seq[(String, Int)] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l => val f = l.split("\t"); (f(0), f(1).toInt) }

  def poolOf(name: String, oracle: String): String =
    if (textTables.findFirstIn(oracle).isDefined) "analytics_text" else "analytics_relational"

  /** Analytics candidates: the registry minus the serving queries. */
  def candidates: Seq[String] =
    (graft.SparkEntry.queries.keySet -- graft.serve.Queries.queries.keySet).toSeq.sorted

  /** Measures every candidate once: collected, then timed to a noop
    * write. Writes `costs.tsv`. */
  def measure(spark: SparkSession, data: String, out: String): Unit = {
    val w = new PrintWriter(out, "UTF-8")
    w.println("# name\tseconds\trows")
    candidates.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val line = try {
        val rows = fn(spark, data).collect().length
        val t0 = System.nanoTime()
        fn(spark, data).write.format("noop").mode("overwrite").save()
        f"$name\t${(System.nanoTime() - t0) / 1e9}%.3f\t$rows"
      } catch { case e: Throwable => s"$name\tERROR\t${e.getClass.getSimpleName}" }
      w.println(line); w.flush()
      System.err.println(s"[costs] $line")
    }
    w.close()
  }

  /** Writes both pool files from `costs.tsv` by the rule above. */
  def build(dir: String): Unit = {
    val costs = Files.readAllLines(Paths.get(s"$dir/costs.tsv")).asScala
      .filterNot(_.startsWith("#")).map(_.split("\t")).map(f => f(0) -> f(1)).toMap
    // a query that throws stays in its pool and fails there
    def cost(n: String): Double = costs.get(n) match {
      case Some("ERROR") => 0.0
      case Some(c) => c.toDouble
      case None => Double.PositiveInfinity
    }
    val oracles = graft.SparkEntry.oracleSql
    candidates.groupBy(n => poolOf(n, oracles.getOrElse(n, ""))).foreach { case (pool, names) =>
      val (kept, excluded) = names.partition(cost(_) <= capSeconds)
      val ranked = kept.sortBy(n => (cost(n), n))
      val w = new PrintWriter(s"$dir/$pool.tsv", "UTF-8")
      val k = strata(pool)
      w.println(s"# $pool: ${kept.size} queries in $k cost strata (built by `run.py --pools`)")
      w.println(s"# excluded, cost over ${capSeconds}s: " +
        excluded.map(n => s"$n=${costs.getOrElse(n, "?")}").mkString(" "))
      ranked.zipWithIndex.foreach { case (n, i) => w.println(s"$n\t${i * k / ranked.size}") }
      w.close()
    }
  }
}
