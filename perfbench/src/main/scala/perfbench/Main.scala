package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.io.Source
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max, md5}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --tmp <dir> [--record <file>] [--spans <file>]`.
  *
  * Inputs are generated from the seed before the clock starts. Set-up
  * (session, one build, warm-up) is timed as `setup_s`: the wall time
  * from JVM start to the first timed op, minus input generation. The
  * timed phase is a closed loop on the caller thread: the next op starts
  * when the previous one returned, until the ops' summed time reaches
  * `--seconds`. Every op's output is then checked. The last stdout line
  * is the result JSON: end-to-end metrics with `--trace 0`, per-layer
  * metrics with `--trace 1`. The full record (both sets where measured,
  * canary samples, per-op latencies, the tail percentile used) goes to
  * `--record`. */
object Main {
  val Workloads: Seq[String] = Seq("medallion_backfill", "medallion_incremental",
    "curation_shards", "retrieval_mixed", "stream_curation")

  def session(tmp: Path, nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$nproc]")
      .withExtensions(new graft.GraftExtensions())
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // Bench.scala: the default 100-entry codegen cache churns Janino
      // and the JIT on a multi-operator run
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "medallion_backfill" => new MedallionWl(ctx, incremental = false)
    case "medallion_incremental" => new MedallionWl(ctx, incremental = true)
    case "curation_shards" => new CurationWl(ctx)
    case "retrieval_mixed" => new RetrievalWl(ctx)
    case "stream_curation" => new StreamWl(ctx)
  }

  private def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** A fixed md5 job, independent of graft: attributes drift to the host. */
  private def canary(spark: SparkSession, nproc: Int): Double = secs {
    spark.range(0L, 500000L, 1L, nproc)
      .select(md5(col("id").cast("string")).as("h")).agg(max("h")).collect()
  }._2

  /** Heap in use after a full collection: the live set. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def peakRssMb(): Double =
    Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))

  /** The highest percentile with at least 10 values beyond it:
    * (value, percentile, sample count), if there are enough values. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val s = xs.sorted
    val n = s.size
    if (n < 11) None else Some((s(n - 11), 100.0 * (n - 10) / n, n))
  }

  /** Geometric mean of the per-kind medians of `lat` over `ops`: a mix
    * of op kinds with different costs then has no median that jumps
    * between kinds as the mix of a short run shifts. */
  def kindMedian(ops: Seq[Int], kind: Int => String, lat: Int => Double): Double = {
    val meds = ops.groupBy(kind).values.map(k => Workload.median(k.map(lat))).filter(_ > 0)
    if (meds.isEmpty) 0.0 else math.exp(meds.map(math.log).sum / meds.size)
  }

  /** Waits, at most `maxS` seconds, until the JIT has compiled for less
    * than 5% of the last 200 ms: compiler threads still busy after the
    * warm-up would otherwise compete with the first timed ops. */
  private def jitQuiet(maxS: Double): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val until = System.nanoTime() + (maxS * 1e9).toLong
    var prev = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.nanoTime() < until) {
      Thread.sleep(200)
      val now = jit.getTotalCompilationTime
      quiet = now - prev < 10
      prev = now
    }
  }

  /** ABBA-style alternation over 8-op cycles: op i is traced on even
    * positions of even cycles and odd positions of odd cycles, so each
    * position of a cyclic input is seen both ways. */
  def tracedOp(i: Int): Boolean = (i / 8 + i) % 2 == 0

  /** Generate, build, warm up and run one op of each workload listed in
    * BENCHMARK.json on one session: the JVM that records the
    * class-data-sharing archive loads the classes their runs will. The
    * other workloads load what the archive lacks from the jars. */
  private def archivePass(tmp: Path, nproc: Int): Unit = {
    val spark = session(tmp, nproc)
    try Seq("medallion_backfill", "retrieval_mixed", "stream_curation").foreach { name =>
      val wl = workload(name, Ctx(spark, 1L, Files.createDirectories(tmp.resolve(name)), new Tracer(spark)))
      try { wl.generate(); wl.build(); wl.warmup(); wl.prepare(0); wl.op(0) }
      finally wl.close()
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("archive-pass")) {
      archivePass(Files.createDirectories(Paths.get(a("tmp"))), Runtime.getRuntime.availableProcessors)
      return
    }
    val name = a("workload")
    require(Workloads.contains(name), s"unknown workload $name")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val tmp = Files.createDirectories(Paths.get(a("tmp")))
    val nproc = Runtime.getRuntime.availableProcessors

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(tmp, nproc)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(spark)
    if (trace) tracer.register()
    val wl = workload(name, Ctx(spark, seed, tmp, tracer))
    val clock = System.nanoTime()
    def phase(p: String): Unit =
      System.err.println(f"[perfbench] $p%-9s done at ${(System.nanoTime() - clock) / 1e9}%.1f s")
    try {
      val genS = secs(wl.generate())._2
      phase("generate")
      val buildS = secs(wl.build())._2
      phase("build")
      val warmS = secs { wl.warmup(); jitQuiet(3.0) }._2
      phase("warmup")
      val canaries = mutable.ArrayBuffer(canary(spark, nproc))
      // process start to the first timed op, less input generation and
      // the host canary
      val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0 - genS - canaries.head

      // ---- timed phase ----
      System.gc()
      tracer.resetPeak()
      val lat = mutable.ArrayBuffer[Double]()
      val errors = mutable.Map[Int, String]()
      val opSpans = mutable.ArrayBuffer[(Int, Span)]()
      val rows = Array.fill(wl.size)(0L)
      val gc = Array.fill(wl.size)(0.0)
      val liveMb = mutable.ArrayBuffer[Double]()
      var i = 0
      while (lat.sum < seconds && i < wl.size) {
        wl.prepare(i)
        // writes are rare: trace them all; reads alternate for the overhead
        tracer.enabled = trace && (tracedOp(i) || !wl.isRead(i))
        val gc0 = tracer.gcSeconds()
        val first = tracer.spans.size
        val t0 = System.nanoTime()
        try rows(i) = tracer.span(s"op.$i", name)(wl.op(i))
        catch { case NonFatal(e) => errors(i) = s"op $i threw: $e" }
        lat += (System.nanoTime() - t0) / 1e9
        gc(i) = tracer.gcSeconds() - gc0
        if (tracer.enabled) opSpans += ((i, tracer.spans(first)))
        tracer.enabled = false
        wl.after(i)
        // untimed: each op also starts on a collected heap
        liveMb += liveHeapMb()
        i += 1
      }
      canaries += canary(spark, nproc)
      val n = i
      phase("timed")

      // ---- output checks ----
      val verdicts = wl.check(n, rows)
      verdicts.zipWithIndex.foreach { case (v, k) => v.foreach(m => errors.getOrElseUpdate(k, m)) }
      errors.toSeq.sortBy(_._1).foreach { case (_, m) => System.err.println(s"[perfbench] FAILED $m") }
      phase("check")
      val ok = (0 until n).filterNot(errors.contains)
      val reads = ok.filter(wl.isRead)
      val writes = ok.filterNot(wl.isRead)
      val p50 = kindMedian(reads, wl.kind, lat)
      // over read ops: retrieval's writes are timed as write_s_p50
      val rowsPerS = reads.map(rows(_)).sum / (0 until n).filter(wl.isRead).map(lat).sum

      val e2e = Map(
        "setup_s" -> (setupS, "s"),
        "op_s_p50" -> (p50, "s"),
        "rows_per_s" -> (rowsPerS, "rows/s"),
        // the least over the run: what the program keeps between ops. A
        // single sample can also hold what Spark's cleaner has not yet
        // released (broadcasts, shuffle state), which varies run to run
        "heap_retained_mb" -> (liveMb.min, "MB"))

      // ---- traced run: replay, then per-layer metrics ----
      val layer: Map[String, (Double, String)] =
        if (!trace) Map.empty
        else {
          tracer.enabled = true
          wl.replay()
          tracer.enabled = false
          wl.close()
          tracer.unregister()
          Layers(tracer, wl, name, nproc, opSpans.toSeq, lat.toSeq, ok, gc, n,
            errors.size, Map("setup.session_s" -> sessionS,
              "setup.build_s" -> buildS, "setup.warmup_s" -> warmS,
              "host.canary_s" -> Workload.median(canaries.toSeq), "jvm.peak_rss_mb" -> peakRssMb()))
        }
      if (trace) phase("replay")
      if (trace) a.get("spans").foreach(f => tracer.dump(Paths.get(f)))

      val tl = tail(reads.map(lat))
      val extra = Map(
        "canary_s" -> canaries.map(c => f"$c%.4f").mkString("[", ",", "]"),
        "ops" -> n.toString, "live_mb" -> liveMb.map(l => f"$l%.2f").mkString("[", ",", "]"), "op_s" -> lat.map(l => f"$l%.4f").mkString("[", ",", "]"),
        "op_s_tail" -> tl.map(t => f"${t._1}%.5f").getOrElse("null"),
        "op_s_tail_pct" -> tl.map(t => f"${t._2}%.1f").getOrElse("null"),
        "op_s_tail_n" -> tl.map(_._3.toString).getOrElse("null"),
        "write_s_p50" -> f"${Workload.median(writes.map(lat))}%.5f",
        "generate_s" -> f"$genS%.3f") ++ wl.recordFields
      def json(m: Map[String, (Double, String)]) = m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
      val result = s"""{"correct": ${errors.isEmpty}, "attempted": $n, "failed": ${errors.size}, """ +
        s""""metrics": ${json(if (trace) layer else e2e)}}"""
      a.get("record").foreach { f =>
        val rec = s"""{"workload": "$name", "seed": $seed, "trace": $trace, "nproc": $nproc, """ +
          s""""result": $result, "end_to_end": ${json(e2e)}, "per_layer": ${json(layer)}, """ +
          extra.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }.mkString(", ") + "}"
        Files.createDirectories(Paths.get(f).getParent)
        Files.write(Paths.get(f), (rec + "\n").getBytes(StandardCharsets.UTF_8))
      }
      System.out.println(result)
    } finally {
      wl.close()
      spark.stop()
    }
  }

  /** Full precision, never exponent notation (JSON-safe). */
  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
