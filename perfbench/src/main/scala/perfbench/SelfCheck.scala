package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The benchmark's own checks: every input is a pure function of the
  * seed, and a tiny run of every workload emits every metric that
  * BENCHMARK.json names, with its unit. */
object SelfCheck {
  def run(spark: SparkSession, cores: Int, data: String, work: String, bench: String): Int = {
    val problems = mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = {
      System.err.println(s"[selfcheck] ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) problems += what
    }

    val texts = graft.sources.Tables.table(spark, data, "documents").orderBy("doc_id")
      .select("text").collect().map(_.getString(0)).toIndexedSeq
    def csvs(seed: Long) = { val g = new DayGen(texts, seed); (0 until 3).map(d => g.day(d)._1.toSeq) }
    expect(csvs(7) == csvs(7), "same seed gives byte-identical day CSVs")
    expect(csvs(7) != csvs(8), "another seed gives other day CSVs")

    def requests(seed: Long) = {
      val w = new DashboardServe(seed, data, Map.empty)
      (0L until 200L).map(w.op(_).key)
    }
    expect(requests(7) == requests(7), "same seed gives the same request sequence")
    expect(requests(7) != requests(8), "another seed gives another request sequence")

    for (pool <- Seq("analytics_text", "analytics_relational")) {
      val entries = Pools.read(s"$bench/pools/$pool.tsv")
      def sample(seed: Long) = new Analytics(seed, data, entries, Map.empty).sample
      expect(sample(7) == sample(7), s"$pool: same seed gives the same sample and order")
      expect((1L to 5L).map(sample).distinct.size > 1, s"$pool: seeds vary the order")
      expect((1L to 5L).map(sample(_).sorted).distinct.size == 1,
        s"$pool: every seed samples the same queries")
      val stratum = entries.toMap
      expect(sample(7).map(stratum).sorted == (0 until Pools.strata(pool)),
        s"$pool: the sample holds one query per stratum")
    }

    val spec = new ObjectMapper().readTree(new File(s"$bench/../BENCHMARK.json"))
    def listed(key: String) =
      spec.get(key).elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    expect(listed("end_to_end") == Main.endToEnd, "BENCHMARK.json end_to_end matches the code")
    expect(listed("per_layer") == Layers.perLayer.map(l => l._1 -> l._2),
      "BENCHMARK.json per_layer matches the code")
    val listedWorkloads = spec.get("workloads").elements.asScala.map(_.get("name").asText).toSeq
    expect(listedWorkloads.forall(Workloads.names.contains),
      "BENCHMARK.json names only workloads the benchmark has")
    for (w <- Workloads.names; trace <- Seq(false, true)) {
      val r = Main.run(spark, cores, w, 1L, 0.5, trace, data, s"$work/$w", bench)
      val want = if (trace) listed("per_layer") else listed("end_to_end")
      expect(r.metrics.map(m => m._1 -> m._3) == want && r.metrics.forall(!_._2.isNaN),
        s"$w trace=$trace emits every metric with its unit")
      expect(r.failed == 0, s"$w trace=$trace has no failed op")
    }
    if (problems.isEmpty) 0 else 1
  }
}
