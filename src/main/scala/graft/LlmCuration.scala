package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.apache.spark.storage.StorageLevel

import graft.dedup.{Decontaminate, TextDedup}
import graft.text.{Dsir, NaiveBayes, TextAnalysis}

/** End-to-end training-data curation pipeline — the document-corpus
  * analog of [[Medallion.run]]: chain the standard curation stages in
  * the order a production pipeline runs them, each stage the library
  * operator it names.
  *
  *  1. quality + language gate (map-only: C4-style score + stopword
  *     language ID, both at scan speed, no shuffle);
  *  2. exact dedup: keep the min-id document per content hash (one
  *     keyed shuffle on the hash);
  *  3. near-dup dedup: MinHash+LSH candidate pairs over the surviving
  *     corpus, verified Jaccard, greedy keep-lowest-id (banded shuffle
  *     + bounded bucket joins — the 100 TB shape, see
  *     [[TextDedup.minHashLshPairs]]);
  *  4. survivors = left_anti on the drop set (one keyed shuffle).
  *
  * Stage order matters at scale: the map-only gates run first so every
  * shuffle-bearing stage sees the smallest possible corpus.
  *
  * The stage-list contract: each pipeline shape is declared once, as
  * an ordered list of named [[Stage]]s, and both the `run*` pipeline
  * and its `attritionReport*` ops log are that list handed to one
  * runner ([[pipeline]] / [[report]]). A report row and the pipeline
  * it describes therefore execute the same stage functions in the
  * same order.
  */
object LlmCuration {

  /** One named stage. `readsTwice`: the stage reads its input frame
    * twice (a self-join, or a score joined back onto its pool), so
    * pipeline mode stores the boundary that feeds it. */
  private final case class Stage(name: String, readsTwice: Boolean,
                                 op: DataFrame => DataFrame)

  /** Pipeline mode: the last stage's frame. A boundary is stored
    * ([[Caching.staged]]) exactly where the next stage reads it twice;
    * the result is lazy, so the stored boundaries stay cached for the
    * caller's action (the [[Caching]] contract). */
  private def pipeline(in: DataFrame, stages: Seq[Stage],
                       storage: StorageLevel): DataFrame =
    stages.zipWithIndex.foldLeft(in) { case (df, (s, i)) =>
      s.op(if (s.readsTwice && i > 0) Caching.staged(df, storage) else df)
    }

  /** Report mode: one row per stage (stage_no, stage, n_in, n_out,
    * drop_frac). Every non-final boundary is stored so its stage is
    * computed once and feeds both its `count()` and the next stage;
    * everything the call stored is released before it returns.
    * drop_frac is one IEEE division of exact longs, 6-dp quantized,
    * null when an upstream stage emptied the corpus. */
  private def report(in: DataFrame, stages: Seq[Stage],
                     storage: StorageLevel): DataFrame = {
    val spark = in.sparkSession
    import spark.implicits._
    val counts = Caching.releasing {
      stages.zipWithIndex.scanLeft((in, in.count())) { case ((df, _), (s, i)) =>
        val out = s.op(df)
        val next = if (i < stages.size - 1) Caching.staged(out, storage) else out
        (next, next.count())
      }.map(_._2)
    }
    stages.zipWithIndex.map { case (s, i) => (i + 1, s.name, counts(i), counts(i + 1)) }
      .toDF("stage_no", "stage", "n_in", "n_out")
      // §6 quantizer (Quantize scaladoc): engine-identical at the
      // half boundary, unlike round(double, n)
      .withColumn("drop_frac", when(col("n_in") === 0, lit(null))
        .otherwise(graft.functions.Quantize.qdp(lit(1.0) -
          col("n_out").cast("double") / col("n_in").cast("double"), 6)))
  }

  /** gate → exact_dedup → near_dup, the head of every chain.
    *  - gate: the map-only quality + language gate → (doc_id, text);
    *  - exact_dedup: min-id keeper per content hash;
    *  - near_dup: survivors of the greedy MinHash-LSH drop, keeping
    *    (doc_id, text). */
  private def core(id: Column, text: Column, minQuality: Double,
                   lang: Option[String], minJaccard: Double,
                   storage: StorageLevel): Seq[Stage] = Seq(
    Stage("gate", readsTwice = false, { docs =>
      val scored = TextAnalysis.qualityFeatures(
          docs.select(id.as("doc_id"), text.as("text")), col("text"))
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      lang.foldLeft(scored.filter(col("quality_score") >= minQuality)) {
        (df, l) => df.filter(col("lang_pred") === l)
      }.select("doc_id", "text")
    }),
    Stage("exact_dedup", readsTwice = false,
      _.groupBy(md5(col("text")).as("__h"))
        .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
        .select("doc_id", "text")),
    Stage("near_dup", readsTwice = true, { uniq =>
      val pairs = TextDedup.minHashLshPairs(uniq, col("doc_id"), col("text"),
        minJaccard, storage)
      uniq.join(pairs.select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    }))

  /** decontam: survivors sharing any word `n`-gram with the eval
    * corpus drop ([[Decontaminate.applyFilter]] — broadcast eval
    * shingle set, map-only probe). Always LAST: the probe then sees
    * the smallest surviving corpus, and eval membership must win over
    * every retention decision — if the eval docs ride in `docs` (the
    * usual setup), they self-hit and drop here. */
  private def decontam(eval: DataFrame, n: Int): Stage =
    Stage("decontam", readsTwice = true,
      Decontaminate.applyFilter(_, eval, "doc_id", col("text"), n))

  /** model_gate, frozen form: keep the pool docs the NB model routes
    * to `keepLabel` with margin >= `minMargin`. Docs the model has NO
    * evidence for (all tokens out-of-vocabulary → no score row, or a
    * null margin) drop: a selection gate admits on evidence, it does
    * not pass on silence. */
  private def modelGate(nbModel: DataFrame, nbPriors: DataFrame,
                        keepLabel: String, minMargin: Double): Stage =
    Stage("model_gate", readsTwice = true, { pool =>
      val admitted = NaiveBayes.score(pool, col("doc_id"), col("text"),
          nbModel, nbPriors)
        .filter(col("pred") === keepLabel &&
          col("margin").isNotNull && col("margin") >= minMargin)
        .select("doc_id")
      pool.join(admitted, Seq("doc_id"))
    })

  /** model_gate, trained form: the model and priors are trained ONCE
    * on `labeled` (vocabulary/label-sized frames, broadcast by
    * [[NaiveBayes.score]]) — Brown et al. 2020 §A2's shape: rule-gate
    * first, a learned gate confirms. Trained when the stage runs, so a
    * report releases the training cache with its boundaries. */
  private def modelGate(labeled: DataFrame, labeledText: Column,
                        label: Column, keepLabel: String, minMargin: Double,
                        storage: StorageLevel): Stage =
    Stage("model_gate", readsTwice = true, pool =>
      modelGate(NaiveBayes.model(labeled, labeledText, label, storage),
        NaiveBayes.priors(labeled, label), keepLabel, minMargin).op(pool))

  /** dsir_select: keep the `k` pool docs a without-replacement
    * ∝exp(weight) draw selects toward the model's target domain
    * ([[Dsir.resampleWith]] — Xie et al. 2023's select-then-train
    * step, deterministic Gumbel top-k); the k-row selection
    * broadcasts back onto the pool. `dsirModel(pool)` is the
    * importance model: trained on the pool in place, or frozen. */
  private def dsirSelect(dsirModel: DataFrame => DataFrame, k: Int): Stage =
    Stage("dsir_select", readsTwice = true, { pool =>
      pool.join(broadcast(Dsir.resampleWith(dsirModel(pool), pool,
        col("doc_id"), col("text"), k).select("doc_id")), Seq("doc_id"))
    })

  /** Run the pipeline; returns the surviving doc ids.
    *
    * @param minQuality  minimum composite quality score (see
    *                    [[TextAnalysis.qualityFeatures]])
    * @param lang        keep only docs identified as this language
    *                    (None = no language gate)
    * @param minJaccard  near-dup threshold for the MinHash stage
    * @param storage     cache level for the operator-internal frames
    *                    (see [[Caching]]; NONE disables caching) */
  def run(docs: DataFrame, id: Column, text: Column,
          minQuality: Double = 0.5, lang: Option[String] = Some("en"),
          minJaccard: Double = 0.1,
          storage: StorageLevel = Caching.Default): DataFrame =
    pipeline(docs, core(id, text, minQuality, lang, minJaccard, storage),
      storage).select("doc_id")

  /** Corpus report card — the per-source summary a data team reads
    * BEFORE choosing mixture weights (the decision input upstream of
    * [[run]]'s gates and `Sampling.mix`'s recipe: which feeds are
    * big, clean, duplicated, multilingual): per source, doc count,
    * distinct languages, exact-duplicate membership (docs whose text
    * md5 is shared with ANY doc corpus-wide — cross-source mirrors
    * count in both sources, which is the number that matters for
    * mixing), token mass, and 6-dp exact-decimal means of the t2
    * quality score and tokens-per-doc.
    *
    * Scale: one map-only feature pass, one keyed md5 count + one
    * equi-join back, one partial-aggregated rollup to sources-sized
    * output. Means are single IEEE divisions of exact decimal sums. */
  def corpusReport(docs: DataFrame, id: Column, text: Column,
                   source: Column, lang: Column): DataFrame = {
    val base = docs.select(id.as("doc_id"), text.as("text"),
      source.as("source"), lang.as("lang"))
    val scored = TextAnalysis.qualityFeatures(base, col("text"))
      .withColumn("__h", md5(col("text")))
    val hc = scored.groupBy("__h").agg(count(lit(1)).as("__hc"))
    scored.join(hc, "__h")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("__hc") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        // §6 quantizer on the mean quotients (Quantize scaladoc):
        // engine-identical at the half boundary
        graft.functions.Quantize.qdp(
          sum(col("quality_score").cast(DecimalType(18, 6)))
            .cast(DoubleType) / count(lit(1)), 6).as("mean_quality"),
        graft.functions.Quantize.qdp(
          sum(col("n_tokens")).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_tokens"))
      .withColumn("dup_frac",
        graft.functions.Quantize.qdp(col("n_dup_docs").cast(DoubleType) /
          col("n_docs").cast(DoubleType), 6))
  }

  /** [[run]] plus the decontam stage (see [[decontam]]): gate →
    * exact_dedup → near_dup → decontam. Returns the surviving ids;
    * stored boundaries follow the [[pipeline]] lifecycle. */
  def runDecontaminated(docs: DataFrame, eval: DataFrame,
                        id: Column, text: Column,
                        minQuality: Double = 0.5,
                        lang: Option[String] = Some("en"),
                        minJaccard: Double = 0.1, n: Int = 5,
                        storage: StorageLevel = Caching.Default): DataFrame =
    pipeline(docs, core(id, text, minQuality, lang, minJaccard, storage) :+
      decontam(eval, n), storage).select("doc_id")

  /** The full SELECTION pipeline a training-data team ships: gate →
    * exact_dedup → near_dup → TRAINED model_gate → DSIR dsir_select
    * (model trained on the gated pool) → decontam. Returns the
    * selected, decontaminated doc ids.
    *
    * Scale shape: every stage sees the smallest surviving corpus; the
    * model/priors and the DSIR bucket model are fixed-size broadcast
    * frames and the k-row selection broadcasts back.
    *
    * @param labeled   labeled training docs for the model gate
    * @param target    target-domain docs for the DSIR weights
    * @param keepLabel the model-gate route to admit
    * @param minMargin model-gate confidence floor (rounded-6dp units)
    * @param k         DSIR selection size */
  def runSelected(docs: DataFrame, eval: DataFrame, labeled: DataFrame,
                  target: DataFrame, id: Column, text: Column,
                  label: Column, keepLabel: String, minMargin: Double,
                  k: Int,
                  minQuality: Double = 0.5, lang: Option[String] = Some("en"),
                  minJaccard: Double = 0.1, n: Int = 5,
                  storage: StorageLevel = Caching.Default): DataFrame =
    pipeline(docs, selectedStages(eval, labeled, target, id, text, label,
      keepLabel, minMargin, k, minQuality, lang, minJaccard, n, storage),
      storage).select("doc_id")

  private def selectedStages(eval: DataFrame, labeled: DataFrame, target: DataFrame,
      id: Column, text: Column, label: Column, keepLabel: String, minMargin: Double,
      k: Int, minQuality: Double, lang: Option[String], minJaccard: Double, n: Int,
      storage: StorageLevel): Seq[Stage] =
    core(id, text, minQuality, lang, minJaccard, storage) ++ Seq(
      modelGate(labeled, text, label, keepLabel, minMargin, storage),
      dsirSelect(Dsir.model(target.select(text.as("text")), _, col("text")), k),
      decontam(eval, n))

  private def servingStages(eval: DataFrame, nbModel: DataFrame, nbPriors: DataFrame,
      dsirModel: DataFrame, id: Column, text: Column, keepLabel: String,
      minMargin: Double, k: Int, minQuality: Double, lang: Option[String],
      minJaccard: Double, n: Int, storage: StorageLevel): Seq[Stage] =
    core(id, text, minQuality, lang, minJaccard, storage) ++ Seq(
      modelGate(nbModel, nbPriors, keepLabel, minMargin),
      dsirSelect(_ => dsirModel, k),
      decontam(eval, n))

  /** The frozen artifacts [[runSelectedServing]] consumes — train ONCE
    * what [[runSelected]] re-trains per invocation: the NB (model,
    * priors) from `labeled`, and the DSIR importance model from
    * (`target`, the model-gated pool), which takes one pipeline pass
    * through model_gate. Returns (nbModel, nbPriors, dsirModel); all
    * three are fixed-size broadcastable frames — persist AND
    * materialize them before serving (the
    * [[graft.streaming.SelectionPipelineStream]] contract:
    * re-training any artifact is a new artifact). */
  def selectionArtifacts(docs: DataFrame, labeled: DataFrame,
                         target: DataFrame, id: Column, text: Column,
                         label: Column, keepLabel: String,
                         minMargin: Double,
                         minQuality: Double = 0.5,
                         lang: Option[String] = Some("en"),
                         minJaccard: Double = 0.1,
                         storage: StorageLevel = Caching.Default)
      : (DataFrame, DataFrame, DataFrame) = {
    val (m, pri) = (NaiveBayes.model(labeled, text, label, storage),
      NaiveBayes.priors(labeled, label))
    (m, pri, Dsir.model(target.select(text.as("text")), pipeline(docs,
      core(id, text, minQuality, lang, minJaccard, storage) :+
        modelGate(m, pri, keepLabel, minMargin), storage), col("text")))
  }

  /** [[runSelected]]'s STEADY-STATE serving leg: the same stage list,
    * but the NB model/priors and the DSIR importance model arrive
    * PRE-TRAINED ([[selectionArtifacts]]), so the invocation only pays
    * the per-corpus serving stages — the latency a selection service
    * quotes (the batch twin of
    * [[graft.streaming.SelectionPipelineStream]]).
    *
    * Output is IDENTICAL to [[runSelected]] when the artifacts were
    * built by [[selectionArtifacts]] from the same inputs: the NB
    * model depends only on `labeled`, the DSIR model only on
    * (`target`, the model_gate pool), and the Gumbel top-k draw
    * replays bit-identically. */
  def runSelectedServing(docs: DataFrame, eval: DataFrame,
                         nbModel: DataFrame, nbPriors: DataFrame,
                         dsirModel: DataFrame,
                         id: Column, text: Column,
                         keepLabel: String, minMargin: Double, k: Int,
                         minQuality: Double = 0.5,
                         lang: Option[String] = Some("en"),
                         minJaccard: Double = 0.1, n: Int = 5,
                         storage: StorageLevel = Caching.Default): DataFrame =
    pipeline(docs, servingStages(eval, nbModel, nbPriors, dsirModel, id,
      text, keepLabel, minMargin, k, minQuality, lang, minJaccard, n,
      storage), storage).select("doc_id")

  /** [[runSelectedServing]]'s stage list as the per-stage ops log.
    * Rows equal [[attritionReportSelected]]'s when the artifacts came
    * from [[selectionArtifacts]] on the same inputs. */
  def attritionReportServing(docs: DataFrame, eval: DataFrame,
                             nbModel: DataFrame, nbPriors: DataFrame,
                             dsirModel: DataFrame,
                             id: Column, text: Column,
                             keepLabel: String, minMargin: Double, k: Int,
                             minQuality: Double = 0.5,
                             lang: Option[String] = Some("en"),
                             minJaccard: Double = 0.1, n: Int = 5,
                             storage: StorageLevel = Caching.Default): DataFrame =
    report(docs, servingStages(eval, nbModel, nbPriors, dsirModel, id,
      text, keepLabel, minMargin, k, minQuality, lang, minJaccard, n,
      storage), storage)

  /** [[runSelected]]'s stage list as the per-stage ops log (a model
    * gate suddenly eating 60% is a drifted model or a drifted feed;
    * dsir_select's n_out is k unless the pool fell below k). */
  def attritionReportSelected(docs: DataFrame, eval: DataFrame,
                              labeled: DataFrame, target: DataFrame,
                              id: Column, text: Column, label: Column,
                              keepLabel: String, minMargin: Double, k: Int,
                              minQuality: Double = 0.5,
                              lang: Option[String] = Some("en"),
                              minJaccard: Double = 0.1, n: Int = 5,
                              storage: StorageLevel = Caching.Default): DataFrame =
    report(docs, selectedStages(eval, labeled, target, id, text, label,
      keepLabel, minMargin, k, minQuality, lang, minJaccard, n, storage),
      storage)

  /** The crawl front door's ops log: url_gate → extract → gate →
    * exact_dedup → near_dup over (doc_id, url, html) pages. url_gate
    * is the d20 domain/pattern blocklist ([[graft.text.Urls.blocklistGate]])
    * — the RefinedWeb/UT1 order: a blocked domain kills the page
    * before any text is extracted; extract drops pages whose
    * boilerplate-stripped text ([[graft.text.Html.extract]]) is empty
    * (a nav-and-footer-only page carries no trainable text). */
  def attritionReportCrawl(pages: DataFrame, id: Column, url: Column,
                           html: Column,
                           blockedDomains: Seq[String],
                           patternRules: Seq[(String, String)],
                           minQuality: Double = 0.5,
                           lang: Option[String] = Some("en"),
                           minJaccard: Double = 0.1,
                           storage: StorageLevel = Caching.Default): DataFrame =
    report(pages.select(id.as("doc_id"), url.as("url"), html.as("html")), Seq(
      Stage("url_gate", readsTwice = true, base =>
        base.join(graft.text.Urls.blocklistGate(base, col("doc_id"),
          col("url"), blockedDomains, patternRules)
          .filter(col("allowed")).select("doc_id"), Seq("doc_id"))),
      Stage("extract", readsTwice = false,
        graft.text.Html.extract(_, col("doc_id"), col("html"))
          .select(col("doc_id"), col("extracted").as("text"))
          .filter(length(col("text")) > 0))) ++
      core(col("doc_id"), col("text"), minQuality, lang, minJaccard, storage),
      storage)

  /** [[runDecontaminated]]'s stage list as the per-stage ops log every
    * curation run emits (a gate suddenly eating 40% instead of 4% is a
    * feed regression; a near-dup stage dropping ~0% says the corpus
    * was already deduped upstream). */
  def attritionReport(docs: DataFrame, eval: DataFrame,
                      id: Column, text: Column,
                      minQuality: Double = 0.5,
                      lang: Option[String] = Some("en"),
                      minJaccard: Double = 0.1, n: Int = 5,
                      storage: StorageLevel = Caching.Default): DataFrame =
    report(docs, core(id, text, minQuality, lang, minJaccard, storage) :+
      decontam(eval, n), storage)
}
