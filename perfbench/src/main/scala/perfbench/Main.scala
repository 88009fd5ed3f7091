package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.QueryDef

/** The benchmark's JVM side; `run.py` launches it and owns the output line.
  *
  * Modes (`--mode`):
  *  - `run`: build the session, register the graft functions, resolve the
  *    workload's queries and print `READY`; `run.py` times process start to
  *    `READY` as the set-up time. Then a closed loop with one client. Pass 0
  *    is the cold pass (timed). Pass 1 materialises every result with
  *    `collect` and checks its hash (untimed). Then warm passes run for
  *    `--seconds`; with `--trace 1`, traced passes alternate with them.
  *    The last stdout line is `RESULT <json>`.
  *  - `oracle`: print the oracle SQL of every workload query as JSON, for
  *    `expected.py`.
  *  - `hash`: print, as JSON, the `Canon` hash of every `<query>.parquet`
  *    in `--dir`: the oracle results `expected.py` has DuckDB write. */
object Main {
  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    o("mode") match {
      case "run" => run(o)
      case "oracle" =>
        val sql = Workloads.all.values.flatten.toSeq.sorted
          .map(n => n -> graft.Registry.byName(n).oracle.getOrElse(sys.error(s"$n has no oracle"))).toMap
        println(json.writeValueAsString(sql.asJava))
      case "hash" =>
        val spark = session(o, "1")
        val files = Option(new File(o("dir")).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
        val hashes = files.map(f => f.getName.stripSuffix(".parquet") -> Canon.hash(spark.read.parquet(f.getPath))).toMap
        println(json.writeValueAsString(hashes.asJava))
        spark.stop()
    }
  }

  private def session(o: Map[String, String], cores: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def setup(o: Map[String, String]): (SparkSession, Seq[QueryDef]) = {
    val spark = session(o, o("cores"))
    graft.functions.GraftFunctions.register(spark)
    (spark, Workloads.queries(o("workload")).map(graft.Registry.byName))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** A fixed CPU-bound loop, reported as box metadata only: it describes
    * the box a run saw and never divides a metric. */
  private def cpuProbe(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 1L
      var i = 0
      while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      if (x == 42L) println("")
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq.fill(3)(once()).min
  }

  private def run(o: Map[String, String]): Unit = {
    val (spark, defs) = setup(o)
    println("READY")
    val sc = spark.sparkContext
    val cores = o("cores").toInt
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val data = o("data")
    val expected = json.readValue(new File(o("expected")), classOf[java.util.Map[String, String]]).asScala
    val rng = new scala.util.Random(o("seed").toLong)
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val tmpAtStart = Option(tmp.list()).map(_.toSet).getOrElse(Set.empty)
    val memory = ManagementFactory.getMemoryMXBean
    val box = Map(
      "nproc" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "cpu_probe_s" -> cpuProbe())

    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val liveHeap = mutable.Map.empty[String, Long]

    /** One pass in a seeded order: returns (query, seconds) for the queries
      * that succeeded. Set-up of a query's tags and the cleanup after it
      * are outside its time. */
    def pass(k: Int, action: (QueryDef, DataFrame) => Unit, trace: Option[Trace]): Seq[(String, Double)] = {
      val passStartMs = System.currentTimeMillis()
      // The check pass keeps the workload's order, so that the live heap
      // it samples has the same history on every seed.
      val out = (if (k == 1) defs else rng.shuffle(defs)).flatMap { q =>
        attempted += 1
        sc.setJobGroup(q.name, s"pass $k")
        sc.setLocalProperty(Tags.Query, q.name)
        sc.setLocalProperty(Tags.Pass, k.toString)
        sc.setLocalProperty(Tags.Phase, "construct")
        var wrote = false
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var t1 = -1L
        var w1 = -1L
        var analysisNs = 0L
        val ok = try {
          val df = q.fn(spark, data)
          t1 = System.nanoTime(); w1 = System.currentTimeMillis()
          // Spark analyses a DataFrame when it is built, so the returned
          // frame's own tracker holds its analysis; nothing is planned yet.
          analysisNs = df.queryExecution.tracker.rules.values.map(_.totalTimeNs).sum
          sc.setLocalProperty(Tags.Phase, "exec")
          wrote = true
          action(q, df)
          true
        } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.nextOption().getOrElse("")
            failures += s"${q.name} pass $k: ${msg.take(200)}"
            false
        }
        val t2 = System.nanoTime()
        val w2 = System.currentTimeMillis()
        if (t1 < 0) { t1 = t2; w1 = w2 } // construction threw
        Seq(Tags.Query, Tags.Pass, Tags.Phase).foreach(sc.setLocalProperty(_, null))
        sc.clearJobGroup()
        trace.foreach { tr =>
          val key = (q.name, k)
          tr.span(Span("query", q.name, k, w0, w2))
          tr.span(Span("construct", q.name, k, w0, w1))
          if (wrote) { tr.span(Span("exec", q.name, k, w1, w2)); tr.execDone(key) }
          val c = tr.counter(key)
          c.constructNs = t1 - t0
          c.execNs = t2 - t1
          c.analysisNs += analysisNs
          tr.checkpointHeld(key)
        }
        // Untimed hygiene. As graft.Bench and graft.Verify do: drop the
        // query's checkpoint blocks and its streaming emit and checkpoint
        // directories. Before that, the benchmark's own step: a full GC, so
        // that the next query starts from a collected heap. In the check
        // pass it also samples the live heap while the query's blocks are
        // still held. Only there: Spark's status store grows with every
        // query run, so in other passes the sample would depend on the
        // query order and on how many passes fitted in the run.
        System.gc()
        if (k == 1) liveHeap(q.name) = memory.getHeapMemoryUsage.getUsed
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        Option(tmp.listFiles()).toSeq.flatten.filterNot(f => tmpAtStart(f.getName)).foreach(deleteTree)
        if (ok) Seq(q.name -> (t2 - t0) / 1e9) else Nil
      }
      trace.foreach(_.span(Span("pass", "", k, passStartMs, System.currentTimeMillis())))
      out
    }

    val noop: (QueryDef, DataFrame) => Unit =
      (_, df) => df.write.format("noop").mode("overwrite").save()
    val check: (QueryDef, DataFrame) => Unit = { (q, df) =>
      val got = Canon.hash(df)
      val want = expected.getOrElse(q.name, "<none>")
      if (got != want) throw new IllegalStateException(s"result hash $got != expected $want")
    }

    def passSeconds(p: Seq[Seq[(String, Double)]]) = median(p.map(_.map(_._2).sum))

    val cold = pass(0, noop, None)
    val checked = pass(1, check, None)
    // Warm passes until `seconds` of wall time have gone, at least two. A
    // traced run alternates untraced and traced passes in the same time,
    // at least two of each, so both kinds see the same warm-up and their
    // difference is the tracing overhead.
    val trace = if (traced) Some(new Trace(spark)) else None
    val warm, tracedPasses = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val start = System.nanoTime()
    var k = 2
    while (warm.size < 2 || (traced && tracedPasses.size < 2) ||
        (System.nanoTime() - start) / 1e9 < seconds) {
      val t = trace.filter(_ => k % 2 == 1)
      t.foreach(_.attach())
      val p = pass(k, noop, t)
      t.foreach(_.detach())
      (if (t.isDefined) tracedPasses else warm) += p
      k += 1
    }
    val samples = warm.toSeq.flatten
    val perQuery = samples.groupBy(_._1).map { case (q, s) => q -> median(s.map(_._2)) }
    val e2e = Map(
      "cold_pass_s" -> (cold.map(_._2).sum, "s"),
      "pass_s" -> (passSeconds(warm.toSeq), "s"),
      // median over queries of each query's median: a pooled median of a
      // few heterogeneous queries jumps between them from run to run
      "query_s.p50" -> (median(perQuery.values.toSeq), "s"),
      "query_s.slowest" -> (if (perQuery.isEmpty) Double.NaN else perQuery.values.max, "s"),
      // The live heap after a full GC, not the transient peak: with a
      // fixed heap the collector lets garbage fill it to the young
      // generation's size, so the peak reads the heap size on every query.
      "live_heap_mb" -> (liveHeap.values.maxOption.getOrElse(0L) / 1048576.0, "MB"))
    val diag = Map("warm_passes" -> warm.size, "query_samples" -> samples.size,
      "query_median_s" -> perQuery.asJava, "check_pass_s" -> checked.map(_._2).sum,
      "warm_pass_s" -> warm.map(_.map(_._2).sum).asJava,
      "failed_share" -> failures.size.toDouble / attempted,
      "query_live_heap_mb" -> liveHeap.map { case (q, b) => q -> b / 1048576.0 }.asJava)

    val layers: Map[String, (Double, String)] =
      if (!traced) Map.empty
      else {
        val (counters, spans) = trace.get.finish()
        def medians(groups: Seq[Seq[Counters]]): Map[String, (Double, String)] = {
          val ms = groups.map(Layers.of(_, cores))
          ms.head.map { case (k, (_, unit)) => k -> (median(ms.map(_(k)._1)), unit) }
        }
        for ((q, cs) <- counters.groupBy(_._1._1).toSeq.sortBy(_._1))
          println(s"[perfbench] layers $q " + json.writeValueAsString(
            medians(cs.map(c => Seq(c._2))).map { case (k, (v, _)) => k -> v }.asJava))
        val path = o("trace-file")
        new File(path).getParentFile.mkdirs()
        json.writeValue(new File(path), spans.map(_.asJava).asJava)
        val overhead = passSeconds(tracedPasses.toSeq) - passSeconds(warm.toSeq)
        medians(counters.groupBy(_._1._2).values.map(_.map(_._2)).toSeq) +
          ("trace.overhead_s" -> (overhead, "s"))
      }

    val result = Map(
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures.asJava,
      "box" -> box.asJava,
      "diag" -> diag.asJava,
      "e2e" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u).asJava }.asJava,
      "layers" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u).asJava }.asJava)
    println("RESULT " + json.writeValueAsString(result.asJava))
    spark.stop()
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
