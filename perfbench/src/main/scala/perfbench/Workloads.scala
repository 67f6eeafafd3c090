package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.{LlmCuration, Medallion}
import graft.ann.{AnnIndex, Knn}
import graft.dedup.{Decontaminate, TextDedup}
import graft.operators.{Dedup, Measures, Pii, QualityRules}
import graft.sources.{SnapshotStore, Tables}
import graft.streaming.CurationStream
import graft.text.{Dsir, NaiveBayes, Search, TextAnalysis}

/** What every workload shares: the session, the seed, the run's temp
  * root and the tracer. */
final case class Ctx(spark: SparkSession, seed: Long, tmp: Path, tracer: Tracer) {
  def dir(name: String): Path = Files.createDirectories(tmp.resolve(name))
}

/** One workload. `Main` calls `generate` (untimed), `build` and
  * `warmup` (set-up), then for each op `prepare` (untimed) and `op`
  * (timed) in a closed loop, and
  * after the timed phase `check`, which verifies every op's output by a
  * path independent of the code under test. */
trait Workload {
  def ctx: Ctx
  lazy val spark: SparkSession = ctx.spark
  def span[T](name: String, layer: String)(body: => T): T = ctx.tracer.span(name, layer)(body)

  def generate(): Unit
  def build(): Unit = ()
  def warmup(): Unit
  /** Ops available; the timed phase ends early if they run out. */
  def size: Int
  def prepare(i: Int): Unit = ()
  /** Untimed, right after op `i` returned. */
  def after(i: Int): Unit = ()
  /** Run op `i`; returns the input rows it processed. */
  def op(i: Int): Long
  def isRead(i: Int): Boolean = true
  /** Ops of one kind cost alike; `op_s_p50` combines per-kind medians. */
  def kind(i: Int): String = "op"
  /** Per op in `0 until n`: None if its output is right, else why not.
    * May update `rows` where verified rows are only known now. */
  def check(n: Int, rows: Array[Long]): Seq[Option[String]]
  /** Traced run only: the per-layer replay after the timed ops. */
  def replay(): Unit = ()
  /** Workload-specific per-layer metrics (traced run). */
  def layerMetrics(traced: Seq[(Int, Span)]): Map[String, Double] = Map.empty
  /** Extra JSON fields for the run record, after `check`. */
  def recordFields: Map[String, String] = Map.empty
  def close(): Unit = ()

  // ---- helpers ----------------------------------------------------------

  def releaseCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def read(p: Path): DataFrame = spark.read.parquet(p.toString)

  /** One layer call in the replay: `call` runs three times, each sunk to
    * `noop` inside its own span; the output is then materialized so the
    * next call starts from it. */
  def replayCall(name: String, layer: String)(call: => DataFrame): DataFrame = {
    (0 until 3).foreach(_ => span(name, layer) {
      call.write.format("noop").mode("overwrite").save()
    })
    call.localCheckpoint(eager = true)
  }

  /** Rows the kernel replay ran over. */
  var kernelRows = 0L

  /** `f`, with a throw reported as the op's failure. */
  def guarded(i: Int)(f: => Option[String]): Option[String] =
    try f catch { case scala.util.control.NonFatal(e) => Some(s"op $i: check threw $e") }

  /** The MinHash and language-id kernels as bare selects over `docs`
    * (doc_id, text), sunk to `noop`. */
  def replayKernels(docs: DataFrame): Unit = {
    val hs = docs.select(col("doc_id"),
      expr("graft_h32_array(graft_word_shingles(text, 3))").as("hs"))
      .localCheckpoint(eager = true)
    kernelRows = hs.count()
    (0 until 3).foreach { _ =>
      span("functions.minhash", "functions") {
        hs.select(TextDedup.minHashSignatureFromHashes(col("hs"), 16))
          .write.format("noop").mode("overwrite").save()
      }
      span("functions.langid", "functions") {
        docs.select(TextAnalysis.langId(col("text")))
          .write.format("noop").mode("overwrite").save()
      }
    }
  }
}

object Workload {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def currentVersion(store: Path): Int =
    new String(Files.readAllBytes(store.resolve("_CURRENT")), StandardCharsets.UTF_8).trim.toInt

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
}

// ---- medallion ------------------------------------------------------------

/** `Medallion.run` over a seeded claims feed. Incremental: op 0 is the
  * backfill; op i moves increment i into the feed's `orders.parquet`
  * directory (atomic rename, untimed) and runs the same pipeline on the
  * same session and work dir. Backfill: every op is a backfill of the
  * base feed into a fresh work dir. */
final class MedallionWl(val ctx: Ctx, incremental: Boolean) extends Workload {
  import Workload._
  private val Salt = "graft_pii_salt_2024"
  private var claims: Gen.Claims = _
  private var warmFeed: Gen.Claims = _
  private val landed = mutable.ArrayBuffer[Path]()
  private val watermarks = mutable.Map[Int, String]()
  private val written = mutable.Map[Int, Long]()

  private def work(i: Int): Path =
    ctx.tmp.resolve(if (incremental) "work" else s"work/op-$i")
  private def orders(c: Gen.Claims) = c.dir.resolve("orders.parquet")

  def generate(): Unit = {
    claims = Gen.claims(spark, ctx.seed, ctx.dir("claims"), 20000,
      if (incremental) 12 else 0, 1000)
    if (incremental)
      warmFeed = Gen.claims(spark, ctx.seed + 7919, ctx.dir("claims-warm"), 2000, 1, 200)
  }

  def size: Int = if (incremental) claims.increments.size + 1 else 1000

  private def land(c: Gen.Claims, i: Int): Path = {
    val src = c.increments(i - 1)._1
    val dst = orders(c).resolve(src.getFileName)
    Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
    dst
  }

  def warmup(): Unit =
    if (incremental) {
      // a separate feed: the measured feed is never read before its ops
      val w = ctx.tmp.resolve("work-warm")
      Medallion.run(spark, warmFeed.dir.toString, w.toString).collect()
      land(warmFeed, 1)
      Medallion.run(spark, warmFeed.dir.toString, w.toString).collect()
    } else (0 until 2).foreach { k =>
      // every backfill op reads the same feed: warm on it
      Medallion.run(spark, claims.dir.toString, ctx.tmp.resolve(s"work-warm-$k").toString).collect()
    }

  private def stores(i: Int) = Seq("bronze", "fact", "gold").map(work(i).resolve)
  private var storeBytes = 0L

  override def prepare(i: Int): Unit = {
    landed += (if (i == 0 || !incremental) orders(claims).resolve("part-00000.parquet")
               else land(claims, i))
    storeBytes = stores(i).map(bytesUnder).sum
  }

  def op(i: Int): Long = {
    val m = span("graft.medallion_run", "graft") {
      Medallion.run(spark, claims.dir.toString, work(i).toString).collect()
    }
    m.find(_.getString(0) == "fresh_rows").map(_.getLong(1)).getOrElse(0L)
  }

  override def after(i: Int): Unit = {
    val wm = work(i).resolve("watermark.json")
    watermarks(i) = if (Files.exists(wm)) new String(Files.readAllBytes(wm), StandardCharsets.UTF_8) else ""
    written(i) = stores(i).map(bytesUnder).sum - storeBytes
  }

  /** Expected state, recomputed from the raw feed files with
    * `spark.read.parquet` and plain Scala: per batch, rows newer than
    * the watermark, latest per key by (date, amount), the DQ rules, an
    * upsert into bronze; gold and fact derive from bronze. */
  def check(n: Int, rows: Array[Long]): Seq[Option[String]] = {
    val bronze = mutable.Map[Long, Row]()
    var wm = 0L
    // a backfill's expected state is the same for every op
    var expected: Option[(Map[String, (Long, Double)], Set[(Long, String, Double, Long, String)],
      String, Long)] = None
    (0 until n).map { i => guarded(i) {
      val v = if (incremental) i else 0
      val (expGold, expFact, expWm, nFresh) = expected.filter(_ => !incremental).getOrElse {
        val batch = read(landed(i)).collect().toSeq
        val fresh = batch.filter(_.getTimestamp(4).getTime > wm)
        fresh.groupBy(_.getLong(0)).values
          .map(_.maxBy(r => (r.getTimestamp(4).getTime, r.getDouble(3))))
          .filter(r => r.getDouble(3) > 0 && Set("F", "O", "P")(r.getString(2)))
          .foreach(r => bronze(r.getLong(0)) = r)
        if (fresh.nonEmpty) wm = fresh.map(_.getTimestamp(4).getTime).max
        val e = (bronze.values.groupBy(_.getString(2)).map { case (s, rs) =>
            s -> ((rs.size.toLong, rs.map(r => BigDecimal(r.getDouble(3))
              .setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble))
          },
          bronze.values.map(r => (r.getLong(0), sha256(s"${r.getLong(1)}$Salt"), r.getDouble(3),
            r.getTimestamp(4).getTime, r.getString(2))).toSet,
          java.time.Instant.ofEpochMilli(wm).toString, fresh.size.toLong)
        expected = Some(e)
        e
      }
      val gold = read(work(i).resolve(s"gold/v=$v")).collect().map(r =>
        r.getAs[String]("status") -> ((r.getAs[Long]("n_claims"), r.getAs[Double]("total_amount")))).toMap
      val fact = read(work(i).resolve(s"fact/v=$v")).collect().map(r => (
        r.getAs[Long]("claim_id"), r.getAs[String]("patient_key"), r.getAs[Double]("amount"),
        r.getAs[Timestamp]("claim_date").getTime, r.getAs[String]("status"))).toSet
      rows(i) = nFresh
      if (gold != expGold) Some(s"op $i: gold differs from the feed's recomputation")
      else if (fact != expFact) Some(s"op $i: fact has ${fact.size} rows, feed gives ${expFact.size}")
      else if (!watermarks(i).contains(expWm)) Some(s"op $i: watermark ${watermarks(i).trim} != $expWm")
      else None
    } }
  }

  override def replay(): Unit = {
    val feed = span("sources.load", "sources") {
      Tables.load(spark, claims.dir.toString, "orders")
    }
    val latest = replayCall("operators.latest_by_key", "operators") {
      Dedup.latestByKeyAgg(feed, Seq("o_orderkey"),
        struct(col("o_orderdate"), col("o_totalprice")))
    }
    val rules = Seq(
      QualityRules.Rule(col("o_totalprice") <= 0, "NonPositiveAmount"),
      QualityRules.Rule(!col("o_orderstatus").isin("F", "O", "P"), "UnknownStatus"))
    val clean = replayCall("operators.quality_rules", "operators") {
      QualityRules.withReasons(latest, rules)
    }.filter(length(col(QualityRules.ReasonCol)) === 0).drop(QualityRules.ReasonCol)
    val fact = replayCall("operators.pii", "operators") {
      clean.select(col("o_orderkey").as("claim_id"),
        Pii.saltedSha256(col("o_custkey"), Salt).as("patient_key"),
        col("o_totalprice").as("amount"), col("o_orderstatus").as("status"))
    }
    val gold = replayCall("operators.rollup", "operators") {
      fact.groupBy(col("status")).agg(count(lit(1)).as("n_claims"),
        Measures.decSum(col("amount")).as("total_amount"))
    }
    val scratch = ctx.tmp.resolve("replay-store")
    SnapshotStore.commit(clean, scratch.resolve("bronze").toString)
    (0 until 3).foreach { _ =>
      span("sources.merge", "sources") {
        SnapshotStore.mergeInto(clean, scratch.resolve("bronze").toString, Seq("o_orderkey"))
      }
      span("sources.commit", "sources") {
        SnapshotStore.commit(gold, scratch.resolve("gold").toString)
      }
    }
  }

  override def layerMetrics(traced: Seq[(Int, Span)]): Map[String, Double] = {
    val last = landed.size - 1
    val inBytes = landed.indices.map(i => Files.size(landed(i)).toDouble).sum
    val store = stores(last)
    val current = store.map(s => bytesUnder(s.resolve(s"v=${currentVersion(s)}"))).sum
    Map(
      "sources.write_amp" -> written.values.sum / inBytes,
      "sources.space_amp" -> store.map(bytesUnder).sum.toDouble / current)
  }
}

// ---- curation ---------------------------------------------------------------

/** `LlmCuration.runSelectedServing` sunk to parquet plus
  * `attritionReportServing` collected, per seeded shard, then caches
  * released. The frozen artifacts come from `selectionArtifacts` in
  * set-up and are persisted as files, as a serving deployment would. */
final class CurationWl(val ctx: Ctx) extends Workload {
  private var corpus: Gen.Corpus = _
  private var artifacts: Path = _
  private val reports = mutable.Map[Int, Array[Row]]()
  private val Warm = 2
  private val Timed = 8
  private val K = 150

  def generate(): Unit =
    corpus = Gen.corpus(spark, ctx.seed, ctx.dir("corpus"), Warm + Timed, 600)

  override def build(): Unit = {
    val labeled = read(corpus.labeled)
    val (m, pri, dsir) = LlmCuration.selectionArtifacts(labeled, labeled,
      read(corpus.target), col("doc_id"), col("text"), col("lang"),
      keepLabel = "en", minMargin = 1.0)
    artifacts = ctx.dir("artifacts")
    Seq("nb_model" -> m, "nb_priors" -> pri, "dsir_model" -> dsir).foreach {
      case (n, df) => df.write.parquet(artifacts.resolve(n).toString)
    }
    releaseCaches()
  }

  private def shard(i: Int) = corpus.shards(i)
  private def timedShard(i: Int) = shard(Warm + i % Timed)

  private def serve(s: Gen.Shard, sink: Path): Array[Row] = {
    val docs = read(s.file)
    val eval = read(corpus.eval)
    def a(n: String) = read(artifacts.resolve(n))
    span("graft.curation_serve", "graft") {
      LlmCuration.runSelectedServing(docs, eval, a("nb_model"), a("nb_priors"),
        a("dsir_model"), col("doc_id"), col("text"), keepLabel = "en",
        minMargin = 1.0, k = K).write.parquet(sink.toString)
    }
    val rep = span("graft.curation_report", "graft") {
      LlmCuration.attritionReportServing(docs, eval, a("nb_model"), a("nb_priors"),
        a("dsir_model"), col("doc_id"), col("text"), keepLabel = "en",
        minMargin = 1.0, k = K).collect()
    }
    releaseCaches()
    rep
  }

  def warmup(): Unit = (0 until Warm).foreach(w => serve(shard(w), ctx.tmp.resolve(s"warm-sink-$w")))

  def size: Int = 10000

  override def kind(i: Int): String = if (timedShard(i).highDup) "high_dup" else "low_dup"

  def op(i: Int): Long = {
    reports(i) = serve(timedShard(i), ctx.tmp.resolve(s"sink/op-$i"))
    timedShard(i).docs.size.toLong
  }

  /** Survivors against the planted truth; the report's stage chain. */
  def check(n: Int, rows: Array[Long]): Seq[Option[String]] = {
    val evalGrams = corpus.evalTexts.flatMap(t => t.split(" ").sliding(5).map(_.mkString(" "))).toSet
    (0 until n).map { i => guarded(i) {
      val s = timedShard(i)
      val surv = read(ctx.tmp.resolve(s"sink/op-$i")).collect().map(_.getLong(0)).toSeq
      val text = s.docs.toMap
      val rep = reports(i).sortBy(_.getAs[Int]("stage_no"))
      val fams = surv.map(s.truth).filter(_.family >= 0).map(_.family)
      val chained = rep.sliding(2).forall(p => p(1).getAs[Long]("n_in") == p(0).getAs[Long]("n_out"))
      if (!surv.forall(s.truth.contains)) Some(s"op $i: a survivor is not a shard doc")
      else if (fams.distinct.size != fams.size) Some(s"op $i: two survivors of one exact-dup family")
      else if (surv.exists(d => s.truth(d).lang != "en")) Some(s"op $i: a non-en survivor")
      else if (surv.exists(d => text(d).split(" ").sliding(5).exists(g => evalGrams(g.mkString(" ")))))
        Some(s"op $i: a survivor shares a 5-gram with the eval slice")
      else if (rep.head.getAs[Long]("n_in") != s.docs.size || !chained)
        Some(s"op $i: attrition stages do not chain")
      else if (rep.last.getAs[Long]("n_out") != surv.size)
        Some(s"op $i: report ends at ${rep.last.getAs[Long]("n_out")}, sink has ${surv.size}")
      else None
    } }
  }

  override def replay(): Unit = {
    val docs = read(timedShard(0).file).select("doc_id", "text")
    val gated = replayCall("text.gate", "text") {
      TextAnalysis.qualityFeatures(docs, col("text"))
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
    }.filter(col("quality_score") >= 0.5 && col("lang_pred") === "en")
      .select("doc_id", "text")
    val pairs = replayCall("dedup.lsh_pairs", "dedup") {
      TextDedup.minHashLshPairs(gated, col("doc_id"), col("text"), 0.1)
    }
    val surv = gated.join(pairs.select(col("doc_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti").localCheckpoint(eager = true)
    def a(n: String) = read(artifacts.resolve(n))
    replayCall("text.nb_score", "text") {
      NaiveBayes.score(surv, col("doc_id"), col("text"), a("nb_model"), a("nb_priors"))
    }
    replayCall("text.dsir_score", "text") {
      Dsir.score(surv, col("doc_id"), col("text"), a("dsir_model"))
    }
    replayCall("dedup.decontam", "dedup") {
      Decontaminate.applyFilter(surv, read(corpus.eval), "doc_id", col("text"), 5)
    }
    val op = span("dedup.operating_report", "dedup") {
      TextDedup.lshOperatingReport(gated, col("doc_id"), col("text"), 0.1,
        Seq(("default", TextDedup.Bands, TextDedup.RowsPerBand))).collect().head
    }
    candidates = op.getAs[Long]("n_candidates")
    verified = op.getAs[Long]("n_pairs")
    replayKernels(docs)
    releaseCaches()
  }
  private var candidates, verified = 0L

  override def layerMetrics(traced: Seq[(Int, Span)]): Map[String, Double] = {
    val t = ctx.tracer
    val reportJobs = t.spans.filter(_.name == "graft.curation_report").map(s => t.jobsUnder(s).size.toDouble)
    Map("graft.report_jobs" -> Workload.median(reportJobs.toSeq),
      "dedup.candidate_pairs" -> candidates.toDouble,
      "dedup.verified_frac" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates))
  }
}

// ---- retrieval ----------------------------------------------------------------

/** A seeded mix of ANN and BM25 reads with ~1 write in 10 against
  * persisted indexes built in set-up (`AnnIndex.write` + `retrain`,
  * `Search.writeIndex`). */
final class RetrievalWl(val ctx: Ctx) extends Workload {
  import Gen._
  private var data: Gen.Retrieval = _
  private val out = mutable.Map[Int, Array[Row]]()
  private var retrainS = 0.0
  private val Ann = "ann"
  private val Bm = "bm25"
  private val K = 10
  // one bucket per core, as shuffle partitions: the indexes are small
  private lazy val B = spark.sparkContext.defaultParallelism

  def generate(): Unit = data = Gen.retrieval(spark, ctx.seed, ctx.dir("retrieval"), 1000, 150, 8)

  override def build(): Unit = {
    AnnIndex.write(read(data.vectors), Ann, buckets = B, metaCols = Seq("label"))
    val t0 = System.nanoTime()
    AnnIndex.retrain(spark, Ann, buckets = B)
    retrainS = (System.nanoTime() - t0) / 1e9
    Search.writeIndex(read(data.docs), col("doc_id"), col("text"), Bm, buckets = B)
    releaseCaches()
  }

  private def vecDf(rows: Seq[(Long, Array[Float], Int)]): DataFrame =
    spark.createDataFrame(rows.map { case (i, v, l) => Row(i, v.toSeq, l) }.asJava, VecSchema)

  private def docDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def idDf(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("id")
  }

  private def run(o: ROp): Array[Row] = o match {
    case AnnRead(q) => span("ann.probe", "ann") {
      AnnIndex.topK(spark, Ann, vecDf(q), K).collect() }
    case AnnFiltered(q) => span("ann.filtered_probe", "ann") {
      AnnIndex.topKFiltered(spark, Ann, vecDf(q), Seq("label"), K).collect() }
    case Bm25Read(q) => span("text.bm25_probe", "text") {
      Search.probeIndex(spark, Bm, q, K).collect() }
    case AnnUpdate(rows) => span("ann.update", "ann") { AnnIndex.update(vecDf(rows), Ann, B) }; Array.empty
    case AnnDelete(ids) => span("ann.delete", "ann") { AnnIndex.delete(idDf(ids), Ann, B) }; Array.empty
    case Bm25Update(rows) => span("text.bm25_update", "text") {
      Search.updateIndex(docDf(rows), col("doc_id"), col("text"), Bm, B) }; Array.empty
    case Bm25Delete(ids) => span("text.bm25_update", "text") {
      Search.deleteFromIndex(idDf(ids), Bm, B) }; Array.empty
  }

  /** Two reads of each kind; the build already ran the write paths'
    * plans. */
  def warmup(): Unit = {
    val reads = data.ops.filter {
      case _: AnnRead | _: AnnFiltered | _: Bm25Read => true
      case _ => false
    }.groupBy(_.getClass).values.map(_.take(2))
    (0 until 2).foreach(k => reads.foreach(os => run(os(k))))
    releaseCaches()
  }

  def size: Int = data.ops.size

  override def isRead(i: Int): Boolean = data.ops(i) match {
    case _: AnnRead | _: AnnFiltered | _: Bm25Read => true
    case _ => false
  }

  override def kind(i: Int): String = data.ops(i).getClass.getSimpleName

  def op(i: Int): Long = {
    out(i) = run(data.ops(i))
    data.ops(i) match {
      case AnnRead(q) => q.size.toLong
      case AnnFiltered(q) => q.size.toLong
      case Bm25Read(q) => q.size.toLong
      case AnnUpdate(rows) => rows.size.toLong
      case AnnDelete(ids) => ids.size.toLong
      case Bm25Update(rows) => rows.size.toLong
      case Bm25Delete(ids) => ids.size.toLong
    }
  }

  /** ANN recall@K against `Knn.bruteForceTopK` over the live corpus,
    * per unfiltered ANN query. */
  val recall = mutable.ArrayBuffer[Double]()
  /** The same against the exact top-K over label-matching live vectors,
    * per filtered ANN query. */
  val filteredRecall = mutable.ArrayBuffer[Double]()
  private val opRecall = mutable.TreeMap[Int, Double]()

  override def recordFields: Map[String, String] = Map("ann_op_recall" ->
    opRecall.map { case (i, r) => f""""$i": $r%.3f""" }.mkString("{", ", ", "}"))
  /** An ANN read whose queries reach a mean recall@K below this, against
    * the exact top-K over the live (label-matching) vectors, fails. */
  private val MinRecall = 0.25

  /** Replays the live corpora through the executed ops; per stretch
    * between writes, one brute-force top-k and one `Search.bm25TopK`
    * over the live corpus answer every read in it. */
  def check(n: Int, rows: Array[Long]): Seq[Option[String]] = {
    val vecs = mutable.LinkedHashMap[Long, (Array[Float], Int)]() ++
      data.baseVectors.map { case (i, v, l) => i -> (v, l) }
    val docs = mutable.LinkedHashMap[Long, String]() ++ data.baseDocs
    val verdict = Array.fill[Option[String]](n)(None)
    var i = 0
    while (i < n) {
      var j = i
      while (j < n && isRead(j)) j += 1
      val reads = (i until j)
      if (reads.nonEmpty) checkReads(reads, vecs, docs, verdict)
      if (j < n) data.ops(j) match {
        case AnnUpdate(r) => vecs ++= r.map { case (id, v, l) => id -> (v, l) }
        case AnnDelete(ids) => vecs --= ids
        case Bm25Update(r) => docs ++= r
        case Bm25Delete(ids) => docs --= ids
        case _ =>
      }
      i = j + 1
    }
    verdict.toSeq
  }

  private def checkReads(reads: Seq[Int], vecs: collection.Map[Long, (Array[Float], Int)],
                         docs: collection.Map[Long, String],
                         verdict: Array[Option[String]]): Unit = {
    val annQ = reads.flatMap(i => data.ops(i) match {
      case AnnRead(q) => q
      case _ => Nil
    })
    val truth: Map[Long, Set[Long]] =
      if (annQ.isEmpty) Map.empty
      else Knn.bruteForceTopK(vecDf(annQ),
          vecDf(vecs.toSeq.map { case (id, (v, l)) => (id, v, l) }), 10)
        .collect().groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val bmQ = reads.flatMap(i => data.ops(i) match { case Bm25Read(q) => q; case _ => Nil })
    val bmTruth: Map[String, Seq[(Int, Long, Double)]] =
      if (bmQ.isEmpty) Map.empty
      else Search.bm25TopK(docDf(docs.toSeq), col("doc_id"), col("text"), bmQ, 10)
        .collect().groupBy(_.getAs[String]("query_id"))
        .map { case (q, rs) => q -> rs.map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
          r.getAs[Double]("score"))).sortBy(_._1).toSeq }
    def hits(res: Array[Row]) = res.groupBy(_.getAs[Long]("query_id"))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("neighbor_id")).toSeq }
    /** A wrong ANN answer: an inadmissible id (dead, or off-label), a
      * query with the wrong number of hits, or a mean recall@K over the
      * op's queries below [[MinRecall]]. Unfiltered, a query gets exactly
      * min(K, live) hits. Filtered, the candidates are the admissible
      * vectors of the probed cells only, which can hold fewer than K of
      * a sparse label, or none: a query then gets at most min(K, live
      * admissible) hits, and the shortfall counts as lost recall. */
    def annVerdict(i: Int, q: Seq[(Long, Array[Float], Int)], res: Array[Row],
                   admissible: (Long, Long) => Boolean, live: Int => Int, exactFill: Boolean,
                   recalls: mutable.ArrayBuffer[Double],
                   truth: ((Long, Array[Float], Int)) => Set[Long]): Option[String] = {
      val got = res.groupBy(_.getAs[Long]("query_id"))
        .map { case (k, rs) => k -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      val bad = res.filterNot(r => admissible(r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      val want = q.map(x => math.min(K, live(x._3)))
      val have = q.map(x => got.getOrElse(x._1, Set.empty[Long]).size)
      val wrongFill = q.indices.find(j =>
        if (exactFill) have(j) != want(j) else have(j) > want(j))
      val rec = q.indices.map(j => (got.getOrElse(q(j)._1, Set.empty[Long]) & truth(q(j))).size.toDouble / want(j))
      val meanRec = rec.sum / rec.size
      recalls ++= rec
      opRecall(i) = meanRec
      if (bad.nonEmpty) Some(s"op $i: ANN returned a dead or off-label id ${bad.head.getAs[Long]("neighbor_id")}")
      else wrongFill.map(j => s"op $i: query ${q(j)._1} got ${have(j)} hits of ${want(j)} wanted")
        .orElse(if (meanRec < MinRecall) Some(f"op $i: mean recall@$K $meanRec%.3f < $MinRecall") else None)
    }
    val n = vecs.size
    val perLabel = vecs.values.groupBy(_._2).map { case (l, vs) => l -> vs.size }
    reads.foreach { i => verdict(i) = guarded(i) {
      val res = out(i)
      data.ops(i) match {
        case AnnRead(q) =>
          annVerdict(i, q, res, (_, id) => vecs.contains(id), _ => n, exactFill = true, recall,
            x => truth(x._1))
        case AnnFiltered(q) =>
          val label = q.map(x => x._1 -> x._3).toMap
          annVerdict(i, q, res, (qid, id) => vecs.get(id).exists(_._2 == label(qid)),
            l => perLabel.getOrElse(l, 0), exactFill = false, filteredRecall,
            x => exactTopK(x._2, vecs.iterator.filter(_._2._2 == x._3).map { case (id, (v, _)) => id -> v }))
        case Bm25Read(q) =>
          val got = res.groupBy(_.getAs[String]("query_id"))
            .map { case (k, rs) => k -> rs.map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
              r.getAs[Double]("score"))).sortBy(_._1).toSeq }
          val wrong = q.map(_._1).filter { k =>
            val a = got.getOrElse(k, Nil)
            val b = bmTruth.getOrElse(k, Nil)
            a.size != b.size || a.zip(b).exists { case (x, y) =>
              x._1 != y._1 || x._2 != y._2 || math.abs(x._3 - y._3) > 1e-9 }
          }
          if (wrong.nonEmpty) Some(s"op $i: BM25 hits differ from bm25TopK for ${wrong.head}")
          else None
        case _ => None
      }
    } }
  }

  /** Exact cosine top-K ids of `q` over `vs`, in plain Scala: an
    * independent path for the filtered reads. */
  private def exactTopK(q: Array[Float], vs: Iterator[(Long, Array[Float])]): Set[Long] = {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val qn = norm(q)
    vs.map { case (id, v) =>
      id -> (q.indices.map(d => q(d).toDouble * v(d)).sum / (qn * norm(v)))
    }.toSeq.sortBy(x => (-x._2, x._1)).take(K).map(_._1).toSet
  }

  override def layerMetrics(traced: Seq[(Int, Span)]): Map[String, Double] = {
    val occ = AnnIndex.stats(spark, Ann).collect().map(_.getAs[Long]("n_vectors").toDouble)
    val t = ctx.tracer
    val bucketed = traced.filter(x => !isRead(x._1)).map { case (_, s) =>
      t.jobsOf(s).filter(_.frame.exists(_.startsWith("graft.sources.BucketedStore")))
        .map(j => (j.startMs, j.endMs))
    }.map(iv => Tracer.unionMs(iv) / 1000.0)
    Map("ann.retrain_s" -> retrainS,
      "ann.occupancy_skew" -> occ.max / (occ.sum / occ.length),
      "recall_at_10" -> (if (recall.isEmpty) 0.0 else recall.sum / recall.size),
      "ann.filtered_recall_at_10" -> (if (filteredRecall.isEmpty) 0.0 else filteredRecall.sum / filteredRecall.size),
      "sources.bucketed_commit_s" -> Workload.median(bucketed))
  }
}

// ---- streaming ------------------------------------------------------------------

/** `CurationStream.run` over a `MemoryStream`: one op adds one
  * fixed-size chunk and waits in `processAllAvailable`. The band index is
  * built in set-up from a base corpus; the sink is a `SnapshotStore`
  * MERGE that grows every batch. */
final class StreamWl(val ctx: Ctx) extends Workload {
  import Workload._
  private var in: Gen.StreamIn = _
  private var mem: MemoryStream[(Long, String, Timestamp)] = _
  private var query: StreamingQuery = _
  private var band: DataFrame = _
  private val versions = mutable.Map[Int, Int]()
  private var sinkBytes = 0L
  private var inBytes = 0L
  private def sink = ctx.tmp.resolve("sink")

  def generate(): Unit = in = Gen.stream(spark, ctx.seed, ctx.dir("stream"), 2000, 40, 100)

  private def start(): (MemoryStream[(Long, String, Timestamp)], StreamingQuery) = {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    val m = MemoryStream[(Long, String, Timestamp)]
    // started outside any span: the query thread inherits no job group
    val q = CurationStream.run(m.toDF().toDF("doc_id", "text", "ts"),
      col("doc_id"), col("text"), band, sink.toString,
      ctx.tmp.resolve("checkpoint").toString)
    (m, q)
  }

  override def build(): Unit = {
    val idx = ctx.tmp.resolve("dedup-index").toString
    TextDedup.writeDedupIndex(read(in.baseDocs), col("doc_id"), col("text"), idx)
    band = TextDedup.readBandIndex(spark, idx)
    val (m, q) = start()
    mem = m; query = q
  }

  private def feed(m: MemoryStream[(Long, String, Timestamp)], q: StreamingQuery,
                   chunk: Seq[Gen.SDoc]): Unit = {
    m.addData(chunk.map(d => (d.id, d.text, d.ts)))
    q.processAllAvailable()
  }

  /** The first chunks go through the measured query untimed; the
    * checks count them as delivered. */
  private val Warm = 2
  private var warmVersion = 0
  def warmup(): Unit = {
    (0 until Warm).foreach(c => feed(mem, query, in.chunks(c)))
    warmVersion = currentVersion(sink)
  }

  def size: Int = in.chunks.size - Warm

  private var before = 0L
  override def prepare(i: Int): Unit = before = bytesUnder(sink)

  def op(i: Int): Long = {
    span("streaming.batch", "streaming") { feed(mem, query, in.chunks(Warm + i)) }
    0L
  }

  override def after(i: Int): Unit = {
    sinkBytes += bytesUnder(sink) - before
    inBytes += in.chunks(Warm + i).map(d => d.text.getBytes(StandardCharsets.UTF_8).length + 16L).sum
    versions(i) = currentVersion(sink)
  }

  /** After op i, the sink holds each eligible singleton delivered so far
    * exactly once, exactly one member of each delivered exact-copy
    * family, and nothing ineligible. Rows credited to op i are the sink
    * rows it added. */
  override def close(): Unit = if (query != null) query.stop()

  def check(n: Int, rows: Array[Long]): Seq[Option[String]] = {
    val delivered = mutable.ArrayBuffer[Gen.SDoc]() ++ in.chunks.take(Warm).flatten
    var prev = read(sink.resolve(s"v=$warmVersion")).count()
    (0 until n).map { i => guarded(i) {
      delivered ++= in.chunks(Warm + i)
      val ids = read(sink.resolve(s"v=${versions(i)}")).select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      val byId = delivered.map(d => d.id -> d).toMap
      val fams = delivered.filter(_.family >= 0).groupBy(_.family)
      rows(i) = ids.size - prev
      prev = ids.size
      val idSet = ids.toSet
      if (idSet.size != ids.size) Some(s"op $i: a doc appears twice in the sink")
      else if (ids.exists(d => !byId.get(d).exists(_.eligible))) Some(s"op $i: an ineligible doc in the sink")
      else if (delivered.exists(d => d.eligible && d.family < 0 && !idSet(d.id)))
        Some(s"op $i: an eligible doc is missing from the sink")
      else if (fams.values.exists(f => f.count(d => idSet(d.id)) != 1))
        Some(s"op $i: an exact-copy family does not appear exactly once")
      else None
    } }
  }

  override def replay(): Unit = {
    import spark.implicits._
    val chunk = in.chunks.head.map(d => (d.id, d.text)).toDF("doc_id", "text")
    replayCall("text.gate", "text") {
      TextAnalysis.qualityFeatures(chunk, col("text"))
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
    }
    replayCall("dedup.band_probe", "dedup") {
      CurationStream.nearDupFlagStream(chunk, col("doc_id"), col("text"), band)
    }
    replayKernels(read(in.baseDocs).select("doc_id", "text"))
    // MERGE of one batch into a scratch copy of the sink as it stands
    val scratch = ctx.tmp.resolve("replay-sink").toString
    SnapshotStore.commit(read(sink.resolve(s"v=${currentVersion(sink)}")), scratch)
    val batch = chunk.withColumn("ts", current_timestamp()).withColumn("n_band_hits", lit(0L))
    (0 until 3).foreach(_ => span("sources.merge", "sources") {
      SnapshotStore.mergeInto(batch, scratch, Seq("doc_id"))
    })
  }

  override def layerMetrics(traced: Seq[(Int, Span)]): Map[String, Double] = {
    val t = ctx.tracer
    val p = t.progress.filter(b => traced.exists { case (_, s) => b._1 >= s.startMs && b._1 <= s.endMs })
    def mean(f: ((Long, Long, Long, Long, Long)) => Long) =
      if (p.isEmpty) 0.0 else p.map(f).sum / 1000.0 / p.size
    val s = sink
    Map("streaming.add_batch_s" -> mean(_._2),
      "streaming.query_planning_s" -> mean(_._3),
      "streaming.wal_commit_s" -> mean(_._4),
      "streaming.state_rows" -> (if (p.isEmpty) 0.0 else p.last._5.toDouble),
      "sources.write_amp" -> sinkBytes.toDouble / inBytes,
      "sources.space_amp" -> bytesUnder(s).toDouble / bytesUnder(s.resolve(s"v=${currentVersion(s)}")))
  }
}
