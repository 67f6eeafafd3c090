package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator for the four workloads. Every input is a
  * pure function of the seed: rows come from per-dataset
  * `SplittableRandom` streams and each table is written as ONE parquet
  * file under a fixed name, so the same seed gives byte-identical files
  * (`GenSpec` checks this). The planted truth each output check needs
  * (duplicate families, languages, eligibility) is returned in memory
  * and never handed to the program under test. */
object Gen {

  // ---- vocabulary -----------------------------------------------------

  private val EnStops = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private val LangStops: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "und", "das", "ein", "von", "zu", "mit"),
    "es" -> Seq("el", "la", "y", "los", "un", "que", "del", "las"),
    "fr" -> Seq("le", "et", "les", "des", "une", "du", "au", "sur"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))
  val Langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")
  // the common half of the Heaps-law vocabulary (ScaleGen's shape,
  // minus the English stop words so language id stays with the stops)
  private val Common = Seq(
    "spark", "window", "agg", "customer", "query", "scan", "vector",
    "stream", "batch", "part", "line", "column", "order", "small",
    "sort", "fast", "value", "hash", "slow", "group", "table", "key",
    "filter", "join", "index", "merge", "shuffle", "broadcast",
    "parquet", "schema", "row", "plan", "cache", "skew", "salt",
    "bucket", "probe", "token")

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  /** An English document: stop words, common and rare words. */
  def enText(r: SplittableRandom, len: Int): String =
    Seq.fill(len) {
      val u = r.nextDouble()
      if (u < 0.35) pick(r, EnStops)
      else if (u < 0.7) pick(r, Common)
      else s"w${r.nextInt(50000)}"
    }.mkString(" ")

  /** A document in `lang`; English delegates to [[enText]]. */
  def langText(r: SplittableRandom, lang: String, len: Int): String =
    if (lang == "en") enText(r, len)
    else Seq.fill(len) {
      if (r.nextDouble() < 0.4) pick(r, LangStops(lang))
      else s"${lang}${r.nextInt(50000)}"
    }.mkString(" ")

  /** Short, punctuation-heavy text that fails the quality gate. */
  def junkText(r: SplittableRandom): String =
    Seq.fill(6 + r.nextInt(6))(s"#${r.nextInt(999)}@!").mkString(" ")

  /** `text` with `k` word positions replaced: a near duplicate. */
  def mutate(r: SplittableRandom, text: String, k: Int): String = {
    val ws = text.split(" ")
    (0 until k).foreach(_ => ws(r.nextInt(ws.length)) = s"m${r.nextInt(99999)}")
    ws.mkString(" ")
  }

  // ---- deterministic single-file parquet --------------------------------

  /** Write `rows` as exactly one parquet file at `file`: one partition,
    * the part file moved to a fixed name, Spark's side files dropped. */
  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
                   file: Path): Unit = {
    val tmp = file.resolveSibling(s".tmp-${file.getFileName}")
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part under $tmp"))
    Files.createDirectories(file.getParent)
    Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
    Files.list(tmp).iterator().asScala.foreach(Files.delete)
    Files.delete(tmp)
  }

  private def rng(seed: Long, stream: Long) =
    new SplittableRandom(seed * 1000003L + stream)

  // ---- claims feed (medallion) -------------------------------------------

  final case class Order(key: Long, cust: Long, status: String,
                         price: Double, date: Timestamp, priority: String)

  final case class Claims(dir: Path, increments: Seq[(Path, Seq[Order])])

  val OrderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  private val Customers = 2000
  private val Day = 86400000L
  private val FeedStart = Timestamp.valueOf("2023-01-01 00:00:00").getTime

  /** A claims feed: `customer` and a base `orders` file under `dir`,
    * plus `nIncr` increment files beside it (not yet in the feed).
    * Increment i is dated on day 365+i, after everything before it, and
    * mixes new claims, re-issued keys (later dates: MERGE updates),
    * in-batch duplicate keys (latest wins) and DQ-failing rows (a
    * non-positive amount or an unknown status). */
  def claims(spark: SparkSession, seed: Long, dir: Path, baseRows: Int,
             nIncr: Int, incrRows: Int): Claims = {
    val r = rng(seed, 1)
    val statuses = Seq("F", "O", "P")
    def price() = (1 + r.nextInt(500000)) / 100.0
    def order(key: Long, day: Long): Order =
      Order(key, 1 + r.nextInt(Customers), pick(r, statuses), price(),
        new Timestamp(FeedStart + day * Day + r.nextInt(86400) * 1000L),
        s"${1 + r.nextInt(5)}-PRIO")
    def dqFail(o: Order): Order =
      if (r.nextBoolean()) o.copy(price = -(r.nextInt(1000) / 100.0))
      else o.copy(status = "X")
    val base = (1 to baseRows).map { i =>
      val o = order(i.toLong, r.nextInt(365))
      if (r.nextInt(50) == 0) dqFail(o) else o
    }
    var nextKey = baseRows.toLong + 1
    val incs = (1 to nIncr).map { i =>
      val day = 364L + i
      val rows = mutable.ArrayBuffer[Order]()
      while (rows.size < incrRows) {
        val u = r.nextInt(100)
        if (u < 60) { rows += order(nextKey, day); nextKey += 1 }
        else if (u < 85) rows += order(1 + r.nextInt((nextKey - 1).toInt), day)
        else if (u < 95 && rows.nonEmpty) rows += order(pick(r, rows.toSeq).key, day)
        else { rows += dqFail(order(nextKey, day)); nextKey += 1 }
      }
      (dir.resolve(f"increments/inc-$i%04d.parquet"), rows.toSeq)
    }
    def toRow(o: Order) =
      Row(o.key, o.cust, o.status, o.price, o.date, o.priority)
    val custSchema = StructType(Seq(StructField("c_custkey", LongType),
      StructField("c_name", StringType), StructField("c_mktsegment", StringType)))
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    writeParquet(spark, (1 to Customers).map(c =>
        Row(c.toLong, f"Customer#$c%06d", pick(r, segs))), custSchema,
      dir.resolve("customer.parquet/part-00000.parquet"))
    writeParquet(spark, base.map(toRow), OrderSchema,
      dir.resolve("orders.parquet/part-00000.parquet"))
    incs.foreach { case (p, rows) => writeParquet(spark, rows.map(toRow), OrderSchema, p) }
    Claims(dir, incs)
  }

  // ---- curation corpus -------------------------------------------------------

  /** Planted truth of one document: its language and its
    * exact-duplicate family (-1 = none). */
  final case class Truth(lang: String, family: Long)

  final case class Shard(file: Path, docs: Seq[(Long, String)], truth: Map[Long, Truth],
                         highDup: Boolean)

  final case class Corpus(labeled: Path, target: Path, eval: Path,
                          evalTexts: Seq[String], shards: Seq[Shard])

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType)))

  /** A document corpus in ScaleGen's shape (common and rare
    * vocabulary, 5 languages, 20 sources): a labeled set for the model
    * gate, a target set for DSIR, an eval slice, and `nShards` shards
    * of `shardDocs` docs with planted exact-duplicate and near-duplicate
    * families. Shards alternate, in a seeded order, between a low (5%)
    * and a high (35%) duplicate rate. */
  def corpus(spark: SparkSession, seed: Long, dir: Path, nShards: Int,
             shardDocs: Int): Corpus = {
    val r = rng(seed, 2)
    def lang() = if (r.nextInt(4) > 0) "en" else pick(r, Langs.tail)
    def row(id: Long, text: String, l: String) =
      Row(id, text, l, s"src${r.nextInt(20)}")
    val labeled = (0 until 1500).map { i =>
      val l = if (i % 2 == 0) "en" else pick(r, Langs.tail)
      row(i.toLong, langText(r, l, 40 + r.nextInt(60)), l)
    }
    val target = (0 until 300).map(i => row(i.toLong, enText(r, 60 + r.nextInt(60)), "en"))
    val evalTexts = (0 until 20).map(_ => enText(r, 80))
    val evalRows = evalTexts.zipWithIndex.map { case (t, i) => row(i.toLong, t, "en") }
    writeParquet(spark, labeled, DocSchema, dir.resolve("labeled.parquet"))
    writeParquet(spark, target, DocSchema, dir.resolve("target.parquet"))
    writeParquet(spark, evalRows, DocSchema, dir.resolve("eval.parquet"))
    val order = mutable.ArrayBuffer.tabulate(nShards)(_ % 2 == 1)
    // seeded shuffle of the low/high sequence
    for (i <- order.indices.reverse) {
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val shards = order.zipWithIndex.map { case (high, s) =>
      val rate = if (high) 0.35 else 0.05
      val docs = mutable.ArrayBuffer[(Long, String, String)]()
      val truth = mutable.Map[Long, Truth]()
      var id = (s + 1) * 1000000L
      def add(text: String, l: String, t: Truth): Unit = {
        docs += ((id, text, l)); truth(id) = t; id += 1
      }
      while (docs.size < shardDocs) {
        val u = r.nextDouble()
        if (u < rate) {
          // a duplicate family: an original, exact copies, near copies
          val l = lang()
          val text = langText(r, l, 60 + r.nextInt(60))
          val fam = id
          add(text, l, Truth(l, fam))
          (0 until 1 + r.nextInt(2)).foreach(_ => add(text, l, Truth(l, fam)))
          if (r.nextBoolean()) add(mutate(r, text, 2), l, Truth(l, -1))
        } else if (u < rate + 0.03) {
          add(junkText(r), "en", Truth("en", -1))
        } else if (u < rate + 0.05) {
          // an English doc quoting an 8-word eval passage
          val ev = pick(r, evalTexts).split(" ")
          val at = r.nextInt(ev.length - 8)
          val text = enText(r, 40) + " " + ev.slice(at, at + 8).mkString(" ") +
            " " + enText(r, 40)
          add(text, "en", Truth("en", -1))
        } else {
          val l = lang()
          add(langText(r, l, 60 + r.nextInt(60)), l, Truth(l, -1))
        }
      }
      val file = dir.resolve(f"shards/shard-$s%03d.parquet")
      writeParquet(spark, docs.toSeq.map { case (i, t, l) => row(i, t, l) },
        DocSchema, file)
      Shard(file, docs.toSeq.map { case (i, t, _) => (i, t) }, truth.toMap, high)
    }
    Corpus(dir.resolve("labeled.parquet"), dir.resolve("target.parquet"),
      dir.resolve("eval.parquet"), evalTexts, shards.toSeq)
  }

  // ---- retrieval corpus ------------------------------------------------------

  val Dim = 64

  /** One retrieval operation. Reads carry a query batch; writes carry
    * the rows they upsert or the ids they delete. */
  sealed trait ROp
  final case class AnnRead(queries: Seq[(Long, Array[Float], Int)]) extends ROp
  final case class AnnFiltered(queries: Seq[(Long, Array[Float], Int)]) extends ROp
  final case class Bm25Read(queries: Seq[(String, Seq[String])]) extends ROp
  final case class AnnUpdate(rows: Seq[(Long, Array[Float], Int)]) extends ROp
  final case class AnnDelete(ids: Seq[Long]) extends ROp
  final case class Bm25Update(rows: Seq[(Long, String)]) extends ROp
  final case class Bm25Delete(ids: Seq[Long]) extends ROp

  final case class Retrieval(vectors: Path, docs: Path,
                             baseVectors: Seq[(Long, Array[Float], Int)],
                             baseDocs: Seq[(Long, String)], ops: Seq[ROp])

  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** The op kinds of each 10-op cycle: 9 reads, then a write. The
    * pattern is fixed so every run of a given length has the same mix;
    * the seed draws what each op carries. */
  private val Cycle = Seq("ann", "bm25", "filtered", "ann", "bm25", "ann",
    "filtered", "bm25", "ann", "write")

  /** Clustered embeddings (uneven, Zipf-sized clusters, so cell
    * occupancy is skewed) with a text per item, and a seeded operation
    * log: 9 reads in 10, mostly from hot clusters with some
    * out-of-distribution queries, and writes cycling through ANN
    * update/delete and BM25 update/delete. */
  def retrieval(spark: SparkSession, seed: Long, dir: Path, n: Int,
                nOps: Int, batch: Int): Retrieval = {
    val r = rng(seed, 3)
    val nClusters = 24
    val weights = (0 until nClusters).map(c => 1.0 / math.pow(c + 1, 1.1))
    val wsum = weights.sum
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / wsum)
    def cluster() = { val u = r.nextDouble(); cum.indexWhere(_ >= u) max 0 }
    def gauss(scale: Double) = Array.fill(Dim)((r.nextGaussian() * scale).toFloat)
    val centers = (0 until nClusters).map(_ => gauss(1.0))
    def vecNear(c: Int) = {
      val noise = gauss(0.35)
      Array.tabulate(Dim)(d => centers(c)(d) + noise(d))
    }
    val topic = (0 until nClusters).map(c => (0 until 30).map(j => s"t${c}x$j"))
    def textOf(c: Int) = Seq.fill(20 + r.nextInt(20))(
      if (r.nextDouble() < 0.5) pick(r, topic(c)) else pick(r, Common)).mkString(" ")
    def item(id: Long) = { val c = cluster(); ((id, vecNear(c), c % 4), (id, textOf(c))) }
    val base = (0 until n).map(i => item(i.toLong))
    val annLive = mutable.LinkedHashSet[Long]() ++ base.map(_._1._1)
    val bmLive = mutable.LinkedHashSet[Long]() ++ base.map(_._2._1)
    var nextId = 10000000L
    var qid = 0L
    def query(): (Long, Array[Float], Int) = {
      qid += 1
      if (r.nextInt(10) == 0) (qid, gauss(1.0), r.nextInt(4))
      else { val c = cluster(); (qid, vecNear(c), c % 4) }
    }
    var w = 0
    val ops = (0 until nOps).map { i =>
      val kind = Cycle(i % Cycle.size)
      if (kind == "write") {
        w += 1
        (w - 1) % 4 match {
          case 0 =>
            val rows = (0 until 20).map { _ => nextId += 1; item(nextId) }
            annLive ++= rows.map(_._1._1)
            AnnUpdate(rows.map(_._1))
          case 1 =>
            val ids = r.ints(10, 0, annLive.size).toArray.distinct
              .map(annLive.toIndexedSeq(_)).toSeq
            annLive --= ids
            AnnDelete(ids)
          case 2 =>
            val rows = (0 until 20).map { _ => nextId += 1; item(nextId) }
            bmLive ++= rows.map(_._2._1)
            Bm25Update(rows.map(_._2))
          case _ =>
            val ids = r.ints(10, 0, bmLive.size).toArray.distinct
              .map(bmLive.toIndexedSeq(_)).toSeq
            bmLive --= ids
            Bm25Delete(ids)
        }
      } else if (kind == "ann") AnnRead(Seq.fill(batch)(query()))
      else if (kind == "filtered") AnnFiltered(Seq.fill(batch)(query()))
      else Bm25Read(Seq.fill(batch) {
        qid += 1
        val c = cluster()
        (s"q$qid", Seq.fill(2 + r.nextInt(2))(pick(r, topic(c))).distinct)
      })
    }
    val vf = dir.resolve("vectors.parquet")
    val df = dir.resolve("docs.parquet")
    writeParquet(spark, base.map { case ((i, v, l), _) => Row(i, v.toSeq, l) },
      VecSchema, vf)
    writeParquet(spark, base.map { case (_, (i, t)) => Row(i, t, "en", "src0") },
      DocSchema, df)
    Retrieval(vf, df, base.map(_._1), base.map(_._2), ops)
  }

  // ---- timestamped stream ------------------------------------------------------

  /** One stream document with its planted fate: `eligible` if it
    * passes the gates; `family` groups exact copies (-1 = none). */
  final case class SDoc(id: Long, text: String, ts: Timestamp,
                        eligible: Boolean, family: Long)

  final case class StreamIn(baseDocs: Path, chunks: Seq[Seq[SDoc]])

  private val StreamStart = Timestamp.valueOf("2024-06-01 00:00:00").getTime

  /** A base corpus (the band index's side) and `nChunks` chunks of
    * `chunkDocs` event-timed documents: mostly fresh English docs,
    * some non-English or junk docs, exact copies of recent stream docs
    * (inside the one-hour dedup watermark) and near copies of base
    * docs. */
  def stream(spark: SparkSession, seed: Long, dir: Path, baseN: Int,
             nChunks: Int, chunkDocs: Int): StreamIn = {
    val r = rng(seed, 4)
    val base = (0 until baseN).map(i => (i.toLong, enText(r, 60 + r.nextInt(60))))
    writeParquet(spark, base.map { case (i, t) => Row(i, t, "en", "src0") },
      DocSchema, dir.resolve("base.parquet"))
    var id = 5000000L
    val recent = mutable.ArrayBuffer[SDoc]()
    val chunks = (0 until nChunks).map { c =>
      (0 until chunkDocs).map { j =>
        id += 1
        val ts = new Timestamp(StreamStart + c * 30000L + j * 100L)
        val u = r.nextInt(100)
        val d =
          if (u < 10 && recent.exists(_.eligible)) {
            val src = pick(r, recent.filter(_.eligible).toSeq)
            val fam = if (src.family >= 0) src.family else src.id
            SDoc(id, src.text, ts, eligible = true, fam)
          } else if (u < 15)
            SDoc(id, mutate(r, pick(r, base)._2, 2), ts, eligible = true, -1)
          else if (u < 23)
            SDoc(id, langText(r, pick(r, Langs.tail), 60 + r.nextInt(40)), ts,
              eligible = false, -1)
          else if (u < 27) SDoc(id, junkText(r), ts, eligible = false, -1)
          else SDoc(id, enText(r, 60 + r.nextInt(60)), ts, eligible = true, -1)
        recent += d
        if (recent.size > 2 * chunkDocs) recent.remove(0)
        d
      }
    }
    // a copy's source joins the family too: exactly one per family survives
    val fams = chunks.flatten.filter(_.family >= 0).map(_.family).toSet
    StreamIn(dir.resolve("base.parquet"),
      chunks.map(_.map(d => if (fams(d.id) && d.family < 0) d.copy(family = d.id) else d)))
  }
}
