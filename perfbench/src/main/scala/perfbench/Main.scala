package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Sample(id: Long, name: String, ms: Double, error: Option[String])

/** Runs ops: untimed warm-up passes and timed closed-loop windows. */
final class Runner(val spark: SparkSession, val cores: Int) {
  var tracer = new Tracer(false)
  private val nextId = new AtomicLong
  /** Op keys whose output check failed, with the reason. */
  val failedKeys = new ConcurrentHashMap[String, String]()
  val persistedMax = new AtomicLong

  /** Runs one op; returns its latency, its failure and the check time. */
  private def runOp(op: Op, id: Long): (Double, Option[String], Long) = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", op.name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val res = try Right(tracer.span("op", id)(op.run(tracer)))
      catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    sc.clearJobGroup()
    val c0 = System.nanoTime()
    if (tracer.enabled) persistedMax.accumulateAndGet(sc.getPersistentRDDs.size, math.max)
    val err = res match {
      case Left(e) => Some(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(r) => try op.check(r) catch { case NonFatal(e) => Some(s"${op.name}: check threw $e") }
    }
    err.foreach { why =>
      failedKeys.putIfAbsent(op.key, why)
      System.err.println(s"[perfbench] FAILED $why")
    }
    (ms, err, System.nanoTime() - c0)
  }

  /** Runs the ops on `threads` threads; returns their median latency (ms). */
  def warm(ops: Seq[() => Op], threads: Int): Double = {
    val it = ops.iterator
    var id = -1000000L
    val lat = new ConcurrentLinkedQueue[Double]()
    def next(): Option[(Op, Long)] = it.synchronized {
      if (it.hasNext) { id -= 1; Some((it.next()(), id)) } else None
    }
    Runner.parallel(threads) { _ =>
      var o = next()
      while (o.isDefined) { lat.add(runOp(o.get._1, o.get._2)._1); o = next() }
    }
    Stats.median(lat.asScala.toSeq)
  }

  /** A closed loop of `w.clients` clients. Once a client has measured
    * `seconds` of its own time (check time excluded), the window closes
    * at the next pass boundary. Returns the samples and the measured
    * wall time in seconds. */
  def window(w: Workload, seconds: Double): (Seq[Sample], Double) = {
    val samples = new ConcurrentLinkedQueue[Sample]()
    val walls = new Array[Double](w.clients)
    val first = nextId.get
    val limit = new AtomicLong(Long.MaxValue)
    Runner.parallel(w.clients) { c =>
      val start = System.nanoTime()
      var checkNs = 0L
      def measured = (System.nanoTime() - start - checkNs) / 1e9
      var id = nextId.getAndIncrement()
      while (id < limit.get) {
        val op = w.synchronized(w.op(id))
        val (ms, err, cns) = runOp(op, id)
        checkNs += cns
        samples.add(Sample(id, op.name, ms, err.orElse(Option(failedKeys.get(op.key)))))
        if (measured >= seconds) {
          val done = nextId.get - first
          limit.compareAndSet(Long.MaxValue, first + (done + w.pass - 1) / w.pass * w.pass)
        }
        id = nextId.getAndIncrement()
      }
      walls(c) = measured
    }
    nextId.set(first + samples.size)
    (samples.asScala.toSeq.sortBy(_.id), walls.max)
  }
}

object Runner {
  def parallel(n: Int)(body: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until n).map { c =>
      val t = new Thread(() => try body(c) catch { case e: Throwable => errors.add(e) })
      t.start(); t
    }
    ts.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The value with ten samples beyond it (nearest rank n−10), which is
    * the highest percentile that has at least ten samples beyond it.
    * Below 22 samples that rank is the median or lower, so the maximum
    * is used. Returns (value, percentile, samples beyond). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n >= 22) (s(n - 11), 100.0 * (n - 10) / n, 10) else (s.last, 100.0, 0)
  }
}

/** Tenured-pool occupancy after a full GC: the live set a window
  * leaves behind. */
object Heap {
  def tenuredMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }
}

object Main {
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "latency_p50_ms" -> "ms",
    "latency_tail_ms" -> "ms", "throughput_ops_s" -> "1/s", "peak_heap_mb" -> "MB")

  def session(cores: Int, local: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", local)
    .config("spark.sql.warehouse.dir", s"$local/warehouse")
    .getOrCreate()

  def readExpected(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split("\t")).map(f => f(0) -> f(1)).toMap

  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = o("cores").toInt
    val bench = o("bench")
    val spark = session(cores, o("local"))
    spark.sparkContext.setLogLevel("WARN")
    val code = try {
      val data = o.getOrElse("data", defaultData(spark))
      require(new File(s"$data/lineitem.parquet").exists, s"no sf0.1 tables under $data")
      o.get("data-found").foreach(write(_, data))
      o("mode") match {
      case "run" =>
        val res = run(spark, cores, o("workload"), o("seed").toLong, o("seconds").toDouble,
          o("trace") == "1", data, o("work"), bench)
        write(o("out"), Json.result(res))
        0
      case "costs" => Pools.measure(spark, data, s"$bench/pools/costs.tsv"); 0
      case "pools" => Pools.build(s"$bench/pools"); 0
      case "oracles" =>
        val names = Pools.candidates ++ graft.serve.Queries.queries.keys.toSeq.sorted
        write(o("out"), Json.obj(names.map(n => n -> Json.str(graft.SparkEntry.oracleSql(n)))))
        0
      case "selfcheck" => SelfCheck.run(spark, cores, data, o("work"), bench)
      }
    } catch { case e: Throwable => e.printStackTrace(); 1 }
    spark.stop()
    System.exit(code)
  }

  /** The sf0.1 tables beside the engine's flagship sf0.001 input. */
  def defaultData(spark: SparkSession): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = graft.SparkEntry.entry(spark.newSession()).queryExecution.analyzed
    spark.catalog.clearCache()
    val table = plan.collectLeaves().collectFirst {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location.rootPaths.head
    }.getOrElse(throw new IllegalStateException("the flagship query reads no files"))
    new File(table.toUri.getPath).getParentFile.getParentFile.toPath.resolve("sf0.1").toString
  }

  def write(path: String, text: String): Unit = {
    val w = new PrintWriter(path, "UTF-8"); w.println(text); w.close()
  }

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)], notes: Seq[String])

  def run(spark: SparkSession, cores: Int, name: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, bench: String): Result = {
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val anomalies = new AnomalyCounter().install()
    val w = Workloads(name, seed, data, work, s"$bench/pools",
      readExpected(s"$bench/expected/fingerprints.tsv"))
    val prep = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      w.prepare(spark.newSession())
      (System.nanoTime() - t0) / 1e9
    }
    val runner = new Runner(spark, cores)
    val t0 = System.nanoTime()
    w.warmUp(runner)
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + Stats.median(prep) + warmS

    val (plain, plainWall) = runner.window(w, seconds)
    val heapMb = Heap.tenuredMb()
    val traced = if (!trace) None else {
      val listener = new SparkSpans
      spark.sparkContext.addSparkListener(listener)
      val tracer = new Tracer(true)
      runner.tracer = tracer
      val acc0 = anomalies.lostAccumulators.sum
      val dup0 = anomalies.duplicateBlocks.sum
      val (ss, wall) = runner.window(w, seconds)
      runner.tracer = new Tracer(false)
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      Some((ss, wall, listener, tracer, anomalies.lostAccumulators.sum - acc0,
        anomalies.duplicateBlocks.sum - dup0))
    }
    val post = w.finalCheck()
    def settle(ss: Seq[Sample]) = ss.map(s => s.copy(error = s.error.orElse(post.get(s.id))))
    val timed = settle(plain)
    val all = timed ++ traced.map(t => settle(t._1)).getOrElse(Nil)
    val failures = all.filter(_.error.isDefined)
    failures.map(_.name).distinct.foreach(n => System.err.println(s"[perfbench] failing op: $n"))

    def e2e(ss: Seq[Sample], wall: Double): Map[String, Double] = {
      val lat = ss.map(_.ms)
      Map("latency_p50_ms" -> Stats.median(lat), "latency_tail_ms" -> Stats.tail(lat)._1,
        "throughput_ops_s" -> ss.size / wall)
    }
    val plainE2e = e2e(timed, plainWall)
    val (_, tailP, beyond) = Stats.tail(timed.map(_.ms))
    val notes = Seq(f"latency_tail_ms is p$tailP%.1f of ${timed.size} samples ($beyond beyond it)",
      f"setup_s = session ${sessionS}%.3f s + median prepare ${Stats.median(prep)}%.3f s " +
        f"of ${prep.map(p => f"$p%.3f").mkString("/")} + warm-up $warmS%.3f s",
      f"window: ${timed.size} ops in $plainWall%.3f s measured")
    val metrics = traced match {
      case None =>
        val vals = plainE2e ++ Map("setup_s" -> setupS, "peak_heap_mb" -> heapMb)
        endToEnd.map { case (n, u) => (n, vals(n), u) }
      case Some((ss, wall, listener, tracer, lostAcc, dupBlocks)) =>
        val tracedSamples = settle(ss)
        val layers = new Layers(name, cores, tracedSamples, wall, tracer, listener)
        layers.write(s"$work.spans.jsonl")
        layers.metrics(w.counters, lostAcc.toDouble, dupBlocks.toDouble,
          runner.persistedMax.get.toDouble, failures.size.toDouble / all.size,
          plainE2e, e2e(tracedSamples, wall))
    }
    Result(failures.isEmpty, all.size, failures.size, metrics, notes ++
      failures.flatMap(_.error).distinct.take(20))
  }
}
