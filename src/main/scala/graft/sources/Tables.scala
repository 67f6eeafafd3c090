package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the testdata parquet layout (TESTDATA.md): one parquet
  * file per table under a scale-factor directory. At cluster scale the
  * same API points at a lake root; readers stay declarative so Catalyst
  * pushes filters/projections into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables whose queries do heavy per-row compute (shingling, hashing,
    * vector math) before any wide operator — these get [[spread]] so a
    * single-split local file doesn't serialize that compute on one
    * thread. Relational tables are left alone: their queries reach a
    * shuffle (join/agg) almost immediately, which already fans out, and
    * an injected repartition would just add an exchange under every
    * scan (including below BroadcastExchange on dimension sides). */
  private val computeHeavy = Set("documents", "embeddings")

  /** Session-scoped memo of loaded table plans. `spark.read.parquet`
    * builds a fresh file index (a directory listing) and re-infers the
    * schema (a footer read) on EVERY call, and [[spread]] additionally
    * pays a full plan→RDD conversion to count splits — all driver-side
    * METADATA work, re-paid by every query invocation (most queries
    * load 1-3 tables; the fleet pays it thousands of times per run).
    * A memoized plan is reused only while the table path's file
    * listing (path, size and modification time of every file under it,
    * partition directories included — one recursive `listFiles`) is
    * unchanged: an append, rewrite or delete anywhere under the path
    * makes the next load re-read it, so a long-lived session (a
    * scheduler loop over a growing feed) sees new files, also on
    * stores that keep no directory modification times. No data or
    * results are cached (every action still computes from the parquet bytes;
    * `clearCache()` is unaffected because nothing here enters the
    * block manager). Keyed WEAKLY on the session (test suites create
    * and stop many sessions; a stopped session's plans must not pin
    * its state) and strongly on (dir, name) within it. */
  private type Listing = Seq[(String, Long, Long)]
  private val planMemo =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[(String, String), (Listing, DataFrame)]]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val perSession = planMemo.synchronized {
      var m = planMemo.get(spark)
      if (m == null) {
        m = new scala.collection.concurrent.TrieMap[(String, String), (Listing, DataFrame)]()
        planMemo.put(spark, m)
      }
      m
    }
    val path = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
    // a missing path lists as empty; the read below then raises
    // Spark's own not-found error
    val listing: Listing = scala.util.Try {
      val files = path.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(path, true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (files.hasNext) {
        val f = files.next()
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      b.result().sorted
    }.getOrElse(Nil)
    perSession.get((sfDir, name)).collect { case (`listing`, df) => df }.getOrElse {
      val raw = spark.read.parquet(path.toString)
      val df = if (computeHeavy(name)) spread(spark, raw) else raw
      perSession.put((sfDir, name), (listing, df))
      df
    }
  }

  /** Spread a scan across the session's cores when the file layout
    * yields fewer splits than parallelism (single small parquet file →
    * 1 partition → every downstream map runs on one thread). On a real
    * cluster reading TB-scale inputs the split count already exceeds
    * parallelism and this is a no-op — the guard exists so the shuffle
    * is never paid where input splits give parallelism for free. */
  private def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Events loader, adaptive to how the generator wrote `ts`:
    *  - parquet TIMESTAMP(NANOS) (Spark's reader rejects it): read
    *    nanos as long (legacy conf) and convert to a microsecond
    *    timestamp (integer division — exact);
    *  - timestamp[us] without UTC adjustment (reads as TIMESTAMP_NTZ):
    *    cast to the session-zoned type — the session runs UTC, so the
    *    cast is value-preserving and matches a naive external read;
    *  - already session-zoned TIMESTAMP: pass through. */
  def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    // read-path conf also consulted at execution time — set, don't reset
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = load(spark, sfDir, "events")
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        ev.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampType => ev
      case _ =>
        ev.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }
}
