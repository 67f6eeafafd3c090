package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Hashing

/** x15/x15b: DSIR importance weights + Gumbel top-k resample —
  * independent arithmetic replay of the hashed-LM log-ratio on a tiny
  * corpus, ranking semantics, OOV/empty handling, determinism, and
  * the plan contracts (broadcast model, windowless top-k). */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  private def r(x: Double, s: Int): Double =
    BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def d12(x: Double): BigDecimal =
    BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)

  private val B = 64

  // target mass 4: alpha x3, beta x1. raw mass 4: alpha, beta, gamma x2.
  private val target = Seq((100L, "alpha alpha beta"), (101L, "alpha"))
    .toDF("doc_id", "text")
  private val raw = Seq((1L, "alpha beta"), (2L, "gamma gamma"), (3L, ""))
    .toDF("doc_id", "text")

  /** The operator's bucket assignment, read back through the same
    * public hash (what the DuckDB oracle replays too). */
  private def bucketOf(tokens: Seq[String]): Map[String, Long] =
    tokens.toDF("t")
      .select(col("t"), (Hashing.h32(col("t")) % B).as("b"))
      .collect().map(row => row.getString(0) -> row.getLong(1)).toMap

  test("weights: independent replay of the hashed-LM log-ratio") {
    val bk = bucketOf(Seq("alpha", "beta", "gamma"))
    val ct = Map(bk("alpha") -> 3L, bk("beta") -> 1L).withDefaultValue(0L)
    val cr = Map(bk("alpha") -> 1L, bk("beta") -> 1L, bk("gamma") -> 2L)
      .withDefaultValue(0L)
    def lr(b: Long): BigDecimal =
      d12(r(math.log((ct(b) + 1.0) / (4.0 + B)), 9)) -
        d12(r(math.log((cr(b) + 1.0) / (4.0 + B)), 9))
    val out = Dsir.importanceWeights(target, raw,
        col("doc_id"), col("text"), buckets = B)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2))))
      .toMap
    assert(out(1L) === ((2L, r((lr(bk("alpha")) + lr(bk("beta"))).toDouble, 6))))
    assert(out(2L) === ((2L, r((lr(bk("gamma")) * 2).toDouble, 6))))
    assert(!out.contains(3L), "an empty doc has no features, so no row")
    assert(out(1L)._2 > out(2L)._2,
      "target-vocabulary doc must outweigh the raw-only doc")
  }

  test("bigram features: word order matters at the same unigram profile") {
    val tgt = Seq((100L, "alpha beta")).toDF("doc_id", "text")
    val raw = Seq((1L, "alpha beta"), (2L, "beta alpha"))
      .toDF("doc_id", "text")
    // unigram model can't tell the two raw docs apart...
    val uni = Dsir.importanceWeights(tgt, raw, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(uni(1L) === uni(2L))
    // ...the bigram model can: doc 1 shares the target's "alpha beta"
    val bi = Dsir.importanceWeights(tgt, raw, col("doc_id"), col("text"),
        ngrams = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(bi(1L)._1 === 3L, "2 unigrams + 1 bigram")
    assert(bi(2L)._1 === 3L)
    assert(bi(1L)._2 > bi(2L)._2,
      "the order-preserving doc must score more target-like")
  }

  test("bigram features: 0- and 1-token docs degrade to unigrams only") {
    val tgt = Seq((100L, "alpha beta")).toDF("doc_id", "text")
    val raw = Seq((1L, "solo"), (2L, ""), (3L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val out = Dsir.importanceWeights(tgt, raw, col("doc_id"), col("text"),
        ngrams = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 1L, "a 1-token doc has exactly its unigram")
    assert(!out.contains(2L), "an empty doc has no features")
    assert(out(3L) === 5L, "3 unigrams + 2 bigrams")
  }

  test("resample: k >= survivors returns all of them; k cuts by skey") {
    val all = Dsir.resample(target, raw, col("doc_id"), col("text"),
      k = 10, buckets = B).collect()
    assert(all.map(_.getLong(0)).sorted === Seq(1L, 2L))
    val one = Dsir.resample(target, raw, col("doc_id"), col("text"),
      k = 1, buckets = B).collect()
    assert(one.length === 1)
    // the k=1 winner is exactly the max-skey row of the full frame
    val best = all.maxBy(x => (x.getDouble(2), -x.getLong(0)))
    assert(one.head.getLong(0) === best.getLong(0))
    assert(one.head.getDouble(2) === best.getDouble(2))
  }

  test("resample is deterministic across runs and repartitioning") {
    def run(parts: Int) = Dsir.resample(target.repartition(parts),
        raw.repartition(parts), col("doc_id"), col("text"),
        k = 2, buckets = B)
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(run(1) === run(7))
  }

  test("selection-bias audit (x17): pool partitions, selected bounded") {
    val rows = graft.SparkEntry.queries("x17_selection_bias")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val docs = table("documents")
    val nRaw = docs.filter(!col("source").isin("src0", "src1")).count()
    assert(rows.map(_._2).sum === nRaw, "pool rows partition the raw corpus")
    assert(rows.forall { case (_, pool, sel) => sel <= pool })
    // k=100 exceeds the sf0.001 pool, so every doc WITH FEATURES is
    // selected — the only unselected docs are the no-token ones
    val nTokenless = docs.filter(!col("source").isin("src0", "src1"))
      .filter(size(graft.text.TextAnalysis.tokens(col("text"))) === 0).count()
    assert(rows.map(_._3).sum === math.min(100L, nRaw - nTokenless))
    assert(!rows.map(_._1).exists(Set("src0", "src1")),
      "target sources never appear in the pool audit")
  }

  test("mixture bridge (x18): shares sum, epoch weights reproduce the selected mix") {
    val docs = table("documents")
    val isTgt = col("source").isin("src0", "src1")
    val k = 50
    val rows = Dsir.mixtureWeights(docs.filter(isTgt), docs.filter(!isTgt),
        col("doc_id"), col("text"), col("source"), k = k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    val nPool = rows.map(_._2).sum
    // Σ n_selected = k (the pool exceeds k here), Σ shares = 1
    assert(rows.map(_._3).sum === k.toLong)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4,
      "natural shares must partition the pool")
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-4,
      "selected shares must partition the selection")
    // the handoff identity: n_pool × epoch_weight = n_selected × N/k —
    // mix() at these weights reproduces the selected source mix
    rows.foreach { case (src, np, ns, _, _, ew) =>
      assert(math.abs(np * ew - ns.toDouble * nPool / k) < nPool * 1e-4,
        s"$src: epoch weight breaks the selected-mix identity")
    }
    // epoch weights feed mix() directly: per-source expected mass
    val mixed = graft.operators.Sampling.mix(
        docs.filter(!isTgt), col("doc_id"), col("source"),
        rows.map(r => r._1 -> r._6).toMap, default = 0.0)
      .groupBy("source").agg(count(lit(1)).as("n_rows"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.filter(_._6 > 0).foreach { case (src, np, _, _, _, ew) =>
      // mix() gives every key floor(ew) copies plus at most one
      // fractional extra — the per-source mass is deterministically
      // bounded by the whole-copy brackets
      val got = mixed.getOrElse(src, 0L).toDouble
      assert(got >= math.floor(ew) * np && got <= math.ceil(ew) * np,
        s"$src: mixed mass $got outside [${math.floor(ew) * np}, " +
          s"${math.ceil(ew) * np}] at weight $ew")
    }
    // and the total mixed mass tracks the selected-mix target N
    // (each source contributes ~n_selected × N/k; Σ = N) within the
    // fractional-cut noise of this small corpus
    val total = mixed.values.sum.toDouble
    assert(math.abs(total - nPool) <= nPool * 0.25,
      s"total mixed mass $total far from the pool-sized target $nPool")
    // mean selected weight is null exactly when nothing was selected
    val meanNulls = Dsir.mixtureWeights(docs.filter(isTgt),
        docs.filter(!isTgt), col("doc_id"), col("text"), col("source"),
        k = 1).collect()
    meanNulls.foreach { r =>
      assert((r.getLong(2) == 0L) === r.isNullAt(3),
        "mean_sel_weight must be null iff n_selected = 0")
    }
  }

  test("plans: broadcast model on the scoring path, windowless top-k") {
    val docs = table("documents")
    val isTgt = col("source").isin("src0", "src1")
    val wPlan = Dsir.importanceWeights(docs.filter(isTgt),
        docs.filter(!isTgt), col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(wPlan.contains("BroadcastHashJoin"),
      "the bucket-model lookup must broadcast (the model is <= 4096 rows)")
    assert(!wPlan.contains("CartesianProduct"))
    val sPlan = Dsir.resample(docs.filter(isTgt), docs.filter(!isTgt),
        col("doc_id"), col("text"), k = 100)
      .queryExecution.executedPlan.toString
    // the two remaining Window nodes are the bucket-frame total-mass
    // sums (4096 rows each); the CORPUS-sized top-k must not be one
    assert(!sPlan.contains("row_number"),
      s"Gumbel top-k still plans a row_number Window (global sort!):\n$sPlan")
    assert(sPlan.contains("TakeOrderedAndProject"),
      s"Gumbel top-k is not a bounded TakeOrderedAndProject:\n$sPlan")
  }

  test("resampleWith: no Window in the ANALYZED plan — scale-safe without the rewrite rule") {
    val docs = table("documents")
    val isTgt = col("source").isin("src0", "src1")
    val raw = docs.filter(!isTgt)
    // a frozen model as a local relation, so the only plan under test
    // is the draw's (the model build's own bucket totals are windows)
    val m = Dsir.model(docs.filter(isTgt), raw, col("text"))
    val frozen = spark.createDataFrame(m.collectAsList(), m.schema)
    val sel = Dsir.resampleWith(frozen, raw, col("doc_id"), col("text"), k = 25)
    // analyzed, not optimized: GraftExtensions' optimizer rule must not
    // be what keeps the corpus-wide top-k off one partition
    val windows = sel.queryExecution.analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"resampleWith still analyzes to a Window:\n${sel.queryExecution.analyzed}")
    assert(sel.count() === 25)
    // the in-place form draws the same k docs from the same inputs
    assert(sel.select("doc_id").collect().toSet ===
      Dsir.resample(docs.filter(isTgt), raw, col("doc_id"), col("text"), k = 25)
        .select("doc_id").collect().toSet)
  }
}
