package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import org.apache.spark.storage.StorageLevel

import graft.Caching
import graft.functions.{H32Array, Hashing, MinHashMins, SortedIntersectCount, WordShingles}
import graft.text.TextAnalysis

/** Document deduplication family: exact, n-gram Jaccard, MinHash+LSH,
  * SimHash. All hash math is md5-based (see [[graft.functions.Hashing]])
  * so an external oracle reproduces it bit-for-bit.
  *
  * Scale design (the point of each variant):
  *  - exact: one hash-shuffle on the content hash.
  *  - n-gram Jaccard: blocking join on shared shingles — candidate set
  *    is pairs sharing >=1 shingle, never a cross join.
  *  - MinHash+LSH: candidates = pairs sharing a band signature; shuffle
  *    keyed on (band, signature); bucket sizes bounded by band width.
  *    This is the 100 TB path: cost ~ O(docs x K) + bucket joins.
  *  - SimHash: constant-size fingerprint per doc; near-dup = small
  *    hamming distance, joinable by fingerprint prefix bands.
  *
  * Cache lifetime: the pair generators cache intermediate frames
  * (shingles+signatures; the capped path's hot set and doc metadata)
  * because each feeds several plan branches of the SAME returned
  * query. The returned frame is lazy, so the operator cannot unpersist
  * them itself; they are evicted LRU under memory pressure, and a
  * long-lived session issuing many curation calls should
  * `spark.catalog.clearCache()` between batches (the bench harness
  * does exactly that) — or pass `storage = StorageLevel.NONE` /
  * an explicit level via each generator's `storage` parameter
  * (see [[graft.Caching]]).
  */
object TextDedup {

  /** Distinct word 3-gram shingles of the lowercased text, as the
    * codegen'd [[graft.functions.WordShingles]] kernel. Semantically
    * identical to the HOF formulation
    * array_distinct(transform(seq, i => concat_ws(" ", slice(toks, i, n))))
    * over whitespace tokens (spec-checked equal). */
  def shingles(text: Column, n: Int = 3): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), n))

  /** Exact-dup metrics via content-hash groupBy: (n_docs, n_groups,
    * n_dupes) as one row. */
  def exactDupMetrics(docs: DataFrame, text: Column): DataFrame =
    docs.groupBy(md5(text).as("h")).agg(count(lit(1)).as("n"))
      .agg(
        sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_groups"),
        (sum(col("n")) - count(lit(1))).as("n_dupes"))

  /** (doc_id, shingles) prep frame shared by the pair generators. */
  private def shingled(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), shingles(text).as("sh"))
      .filter(size(col("sh")) > 0)

  /** All-pairs n-gram Jaccard >= minJaccard, blocked on shared shingles.
    * Output: (doc_a, doc_b, jaccard) with doc_a < doc_b; jaccard is the
    * exact rational |A∩B| / |A∪B| — engine-independent.
    *
    * `maxDocFreq`: at web scale a shingle appearing in m documents
    * produces m² candidate pairs — one viral phrase can dominate the
    * whole job. Setting a cap drops shingles with document frequency
    * above it from CANDIDATE GENERATION only; surviving candidates are
    * verified with exact Jaccard over the full shingle sets, so every
    * reported score is still exact (recall dips only for pairs whose
    * every common shingle is ultra-hot). None = exhaustive (oracle
    * semantics).
    *
    * SIZE THE CAP RELATIVE TO THE CORPUS (a df fraction, not a fixed
    * absolute). Measured (SCALING.md round 8): on a Heaps-law corpus
    * the cost crossover vs the exhaustive branch lands between 1× and
    * 5× the sf0.1 size with identical recall at every size (near-dup
    * pairs share RARE shingles, which survive any sane cap); but on a
    * closed-vocabulary corpus where every shingle's df grows with the
    * corpus, a fixed cap=10 still neutralizes the superlinear blowup
    * while recall collapses to ZERO once all shingles exceed it. A
    * corpus-relative cap (e.g. df ≤ 0.2% of docs) tracked both cost
    * and full recall across the measured 10× spread.
    *
    * The capped branch runs ENTIRELY in the h32 shingle-hash domain:
    * each doc's set is `array_distinct(h32(shingle))`, the df cap,
    * blocking join, and verification all operate on those longs, and
    * the oracle computes the identical hashed form. Rationale
    * (measured at sf0.1, where 37% of distinct shingles are hot): the
    * verify stage ships two per-doc hot arrays for every candidate
    * pair, and string payloads made it the dominant cost — 8-byte
    * keys cut the d2/d2b gap from ~3.9x to ~1.5x. A 32-bit collision
    * (p ≈ n²/2³³ over n distinct shingles corpus-wide) can merge two
    * shingles on BOTH engines identically; the capped variant is
    * already recall-approximate by design, so the hashed domain is
    * in-spec. The exhaustive branch stays string-exact.
    *
    * Residual cost floor vs the exhaustive branch (same sf0.1): the
    * cap pays one full-corpus df aggregation (hot-set discovery), the
    * per-doc hot-array build, and a verify that must reconstruct
    * |A∩B| = shared-cool + |hotA∩hotB| per candidate — the codegen'd
    * [[graft.functions.SortedIntersectCount]] merge walk — where the
    * exhaustive branch counts |A∩B| straight off its blocking join
    * and ships only two scalars per pair. That extra work only pays
    * off once hot shingles make the exhaustive join superlinear —
    * exactly the regime the cap exists for. */
  def ngramJaccardPairs(docs: DataFrame, id: Column, text: Column,
                        minJaccard: Double,
                        maxDocFreq: Option[Int] = None,
                        storage: StorageLevel = Caching.Default): DataFrame =
    pairIntersections(docs, id, text, maxDocFreq, storage)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")

  /** Asymmetric CONTAINMENT near-dup pairs — the "is this doc mostly
    * inside that one" relation Jaccard structurally under-reports
    * (Broder 1997 defines both: a 30-shingle excerpt fully inside a
    * 300-shingle article has containment 1.0 but Jaccard 0.1, so any
    * Jaccard threshold that keeps real near-dup pairs misses every
    * excerpt/quote/syndication-fragment relation). Score =
    * |A∩B| / min(|A|,|B|) — the smaller set's coverage — computed on
    * the same exact pair-intersection stats as [[ngramJaccardPairs]]
    * (shared [[pairIntersections]] core: same blocking join, same
    * optional df cap with hashed-domain exact verify, same
    * scale posture). Output: (doc_small, doc_big, inter, containment)
    * with doc_small the smaller shingle set (ties → smaller id). */
  def containmentPairs(docs: DataFrame, id: Column, text: Column,
                       minContainment: Double,
                       maxDocFreq: Option[Int] = None,
                       storage: StorageLevel = Caching.Default): DataFrame = {
    val st = pairIntersections(docs, id, text, maxDocFreq, storage)
      .withColumn("containment",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= minContainment)
    val aSmall = col("na") < col("nb") || col("na") === col("nb")
    st.select(
      when(aSmall, col("doc_a")).otherwise(col("doc_b")).as("doc_small"),
      when(aSmall, col("doc_b")).otherwise(col("doc_a")).as("doc_big"),
      col("inter").cast("long").as("inter"),
      col("containment"))
  }

  /** Exact per-pair intersection stats (doc_a, doc_b, inter, na, nb)
    * with doc_a < doc_b, shared by [[ngramJaccardPairs]] and
    * [[containmentPairs]] — the blocking join, optional df cap, and
    * hashed-domain verify documented on [[ngramJaccardPairs]]. */
  private def pairIntersections(docs: DataFrame, id: Column, text: Column,
                                maxDocFreq: Option[Int],
                                storage: StorageLevel): DataFrame = {
    maxDocFreq match {
      case None =>
        // exhaustive: |A∩B| counted directly off the blocking join
        val t = Caching.persisted(shingled(docs, id, text), storage)
        val ex = t.select(col("doc_id"), explode(col("sh")).as("s"))
        val pairs = ex.as("a").join(ex.as("b"),
            col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
        pairs
          .join(t.select(col("doc_id").as("doc_a"), size(col("sh")).as("na")), "doc_a")
          .join(t.select(col("doc_id").as("doc_b"), size(col("sh")).as("nb")), "doc_b")
          .select("doc_a", "doc_b", "inter", "na", "nb")
      case Some(cap) =>
        // Candidate generation on cool (df <= cap) hashed shingles
        // only. The intersection over the hashed sets is EXACT:
        // |A∩B| = shared-cool count (aggregated straight off the
        // blocking join, map-side partials) + a sorted-merge
        // intersect of each doc's HOT hashes, which are few by
        // construction (at most |occurrences|/cap distinct hot
        // shingles exist corpus-wide). The HOT set broadcasts, so
        // both splits below are map-only — never a shuffle join of
        // the full exploded corpus against the frequency table.
        // Cached: `th` (shingling + md5 hashing is the expensive
        // per-row work, and exh re-derives from it in four branches)
        // and the df aggregation, which feeds several plan branches
        // (both cool sides + the hot arrays behind the verify) where
        // exchange reuse does not kick in — without the cache the
        // full-corpus df shuffle runs once PER BRANCH.
        val th = Caching.persisted(shingled(docs, id, text)
          .select(col("doc_id"), array_distinct(ColumnBridge.column(
            H32Array(ColumnBridge.expression(col("sh"))))).as("hs")), storage)
        val exh = th.select(col("doc_id"), explode(col("hs")).as("h"))
        val hotSet = Caching.persisted(exh.groupBy("h")
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("h"), storage)
        val cool = exh.join(broadcast(hotSet), Seq("h"), "left_anti")
        // one per-doc metadata frame (hashed set size + SORTED hot
        // hashes — the intersect kernel's contract), built in a
        // single aggregation: a broadcast hot-flag left join, then
        // collect_list(when(hot)) — which skips the nulls on cool
        // rows, so hot-free docs get a non-null EMPTY array with no
        // second join or coalesce. Cached because both verify joins
        // rebuild it otherwise.
        val docMeta = Caching.persisted(exh
          .join(broadcast(hotSet.withColumn("is_hot", lit(true))), Seq("h"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n"),
            sort_array(collect_list(when(col("is_hot"), col("h")))).as("hot")), storage)
        val pairs = cool.as("a").join(cool.as("b"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter_cool"))
        pairs
          .join(docMeta.select(col("doc_id").as("doc_a"),
            col("n").as("na"), col("hot").as("hota")), "doc_a")
          .join(docMeta.select(col("doc_id").as("doc_b"),
            col("n").as("nb"), col("hot").as("hotb")), "doc_b")
          .withColumn("inter", col("inter_cool") + ColumnBridge.column(
            SortedIntersectCount(ColumnBridge.expression(col("hota")),
              ColumnBridge.expression(col("hotb")))))
          .select("doc_a", "doc_b", "inter", "na", "nb")
    }
  }

  /** LSH banding RECALL audit — the dedup family's analog of the ANN
    * family's `e12_recall_eval` (every approximate retriever ships
    * with its recall number; the banding dedup path should too): how
    * many of the EXACT near-dup pairs (exhaustive [[ngramJaccardPairs]]
    * at `minJaccard`) does [[minHashLshPairs]]' band-blocking find?
    * Both legs verify with the same exact string-domain Jaccard, so
    * the found set is a subset of the exact set by construction and
    * recall = n_found / n_exact is the banding miss rate exactly (the
    * 1-(1-s^r)^b curve, measured on this corpus instead of assumed).
    * One row: (n_exact, n_found, n_missed, recall 6-dp). Returns a
    * NULL recall on a pair-free corpus rather than inventing 1.0.
    *
    * Cost = the two pair pipelines it audits + a pairs-sized join —
    * an audit you run on a sample slice, not the full 100 TB corpus
    * (the e12 posture). */
  def lshRecallAudit(docs: DataFrame, id: Column, text: Column,
                     minJaccard: Double,
                     storage: StorageLevel = Caching.Default,
                     bands: Int = Bands,
                     rowsPerBand: Int = RowsPerBand): DataFrame = {
    val exact = ngramJaccardPairs(docs, id, text, minJaccard, None, storage)
      .select("doc_a", "doc_b")
    val found = minHashLshPairs(docs, id, text, minJaccard, storage,
        bands, rowsPerBand)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
    val hits = coalesce(col("hit"), lit(0L))
    exact.join(found, Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(hits).as("n_found"),
        (count(lit(1)) - sum(hits)).as("n_missed"),
        // §6 quantizer (Quantize scaladoc): engine-identical at the
        // half boundary, unlike round(double, n)
        graft.functions.Quantize.qdp(
          sum(hits).cast("double") / count(lit(1)), 6).as("recall"))
  }

  /** MinHash parameters: K = bands * rowsPerBand signatures from the
    * affine family (A(i)*h + B(i)) mod P32. Constants are part of the
    * operator contract (the oracle uses the same ones). */
  val MinHashA: Seq[Long] = Seq(1117L, 2039L, 3023L, 4093L, 5087L, 6151L, 7103L, 8117L,
    9173L, 10211L, 11213L, 12277L, 13309L, 14327L, 15331L, 16381L)
  val MinHashB: Seq[Long] = Seq(271L, 577L, 863L, 1249L, 1583L, 1987L, 2357L, 2749L,
    3169L, 3559L, 3989L, 4397L, 4801L, 5231L, 5639L, 6053L)
  val Bands = 4
  val RowsPerBand = 4

  private def nextPrime(n: Long): Long = {
    def isPrime(x: Long): Boolean =
      x >= 2 && (2L to math.sqrt(x.toDouble).toLong).forall(x % _ != 0)
    var c = n
    while (!isPrime(c)) c += 1
    c
  }

  /** Extended affine pools for TUNED banding plans ([[Banding.tune]]
    * can ask for K up to 64). The first 16 entries ARE the contract
    * constants above — the default (4, 4) path is byte-identical —
    * and the extension is generated deterministically (first prime at
    * or above the documented seeds). Tuned signatures never reach the
    * SQL oracle, so only determinism matters past index 15. */
  val MinHashPoolA: Seq[Long] =
    MinHashA ++ (17 to 64).map(i => nextPrime(1000L * i + 97))
  val MinHashPoolB: Seq[Long] =
    MinHashB ++ (17 to 64).map(i => nextPrime(379L * i + 11))

  /** K affine remixes of a pre-hashed shingle array (h32 values) in a
    * single codegen'd pass (see [[graft.functions.MinHashMins]]).
    * Arithmetic identical to array_min(transform(hs, affine)) per k. */
  def minHashSignatureFromHashes(hs: Column): Column =
    ColumnBridge.column(MinHashMins(
      ColumnBridge.expression(hs), MinHashA, MinHashB, Hashing.P32))

  /** [[minHashSignatureFromHashes]] with an explicit signature count
    * (for tuned banding plans): the first `k` pool constants, so
    * k = 16 is exactly the default signature. */
  def minHashSignatureFromHashes(hs: Column, k: Int): Column = {
    require(k >= 1 && k <= MinHashPoolA.size,
      s"k must be in [1, ${MinHashPoolA.size}], got $k")
    ColumnBridge.column(MinHashMins(
      ColumnBridge.expression(hs), MinHashPoolA.take(k), MinHashPoolB.take(k),
      Hashing.P32))
  }

  /** MinHash signature array (length K) over the shingle set.
    *
    * NOTE: prefer hashing into a materialized column first (see
    * [[minHashLshPairs]]) — inlining `h32` here embeds the md5 subtree
    * in each of the K array_min expressions and, with codegen disabled
    * by the higher-order functions, no common-subexpression elimination
    * rescues it: md5 runs K times per shingle. */
  def minHashSignature(sh: Column): Column =
    minHashSignatureFromHashes(transform(sh, s => Hashing.h32(s)))

  /** (doc_id, sh, sig) — shingles + MinHash signature. Cached by
    * default: in the pair generators the frame feeds both candidate
    * generation and exact verify. Single-consumer shapes (bandIndex,
    * streaming frames — which can't cache at all) skip the cache. */
  private def sigged(docs: DataFrame, id: Column, text: Column,
                     storage: StorageLevel = Caching.Default,
                     k: Int = Bands * RowsPerBand): DataFrame =
    Caching.persisted(shingled(docs, id, text)
      .withColumn("hs", ColumnBridge.column(H32Array(ColumnBridge.expression(col("sh")))))
      .withColumn("sig", minHashSignatureFromHashes(col("hs"), k))
      .drop("hs"), storage)

  /** One row per (doc, band): (doc_id, band, bsig). */
  private def banded(t: DataFrame, bands: Int = Bands,
                     rowsPerBand: Int = RowsPerBand): DataFrame =
    t.select(col("doc_id"), explode(
        transform(sequence(lit(0), lit(bands - 1)),
          j => struct(j.as("band"),
            concat_ws(":", slice(col("sig"), j * rowsPerBand + 1, lit(rowsPerBand))).as("bsig"))))
        .as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bsig"))

  /** Exact-Jaccard verify of candidate (doc_a, doc_b) pairs against the
    * shingle sets carried by `ta`/`tb`. */
  private def verified(cand: DataFrame, ta: DataFrame, tb: DataFrame,
                       minJaccard: Double): DataFrame =
    cand
      .join(ta.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(tb.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")

  /** LSH near-dup pairs: band the signature, join on (band, bandSig),
    * verify candidates with exact Jaccard >= minJaccard.
    * At scale the only wide ops are the (band,sig) shuffle and the
    * candidate verify join — no quadratic stage anywhere. */
  def minHashLshPairs(docs: DataFrame, id: Column, text: Column,
                      minJaccard: Double,
                      storage: StorageLevel = Caching.Default,
                      bands: Int = Bands,
                      rowsPerBand: Int = RowsPerBand): DataFrame = {
    val t = sigged(docs, id, text, storage, bands * rowsPerBand)
    verified(selfCandidates(t, bands, rowsPerBand), t, t, minJaccard)
  }

  /** Distinct self-join candidate pairs of a sigged frame at one
    * banding config (doc_a < doc_b). */
  private def selfCandidates(t: DataFrame, bands: Int,
                             rowsPerBand: Int): DataFrame = {
    val b = banded(t, bands, rowsPerBand)
    b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** The banding OPERATING report — candidate volume vs verified-pair
    * yield per (bands, rowsPerBand) config, measured on the corpus
    * (the cost side of the tradeoff [[graft.dedup.Banding.tune]]'s
    * S-curve integral predicts and [[lshRecallAudit]] grades for
    * recall): at 100 TB the candidate count IS the exact-verify
    * join's row count, so a tuner that buys recall with a
    * low-`rowsPerBand` plan must show its verify bill here before
    * anyone ships it.
    *
    * One row per config: (config, bands, rows_per_band, n_candidates,
    * n_pairs) — exact longs, no float surface. All configs share ONE
    * shingle+signature pass (the pool-prefix contract: a config's
    * bands·rows slices read the first bands·rows signature entries,
    * identical to a signature computed at exactly that K), then ALL
    * configs share ONE candidate self-join and ONE verify pass
    * ([[operatingReportMulti]]): per-config membership of a union
    * candidate is recomputed from the shipped signature slices, so the
    * report prices N configs for the cost of their candidate UNION —
    * on overlapping configs (every slice-sharing family; the retune
    * loop's default-vs-tuned pair included) that is one verify bill,
    * not N. */
  def lshOperatingReport(docs: DataFrame, id: Column, text: Column,
                         minJaccard: Double,
                         configs: Seq[(String, Int, Int)],
                         storage: StorageLevel = Caching.Default): DataFrame = {
    require(configs.nonEmpty, "lshOperatingReport needs at least one config")
    configs.foreach { case (name, b, r) =>
      require(b >= 1 && r >= 1 && b * r <= MinHashPoolA.size,
        s"config $name: bands*rowsPerBand must be in [1, ${MinHashPoolA.size}]")
    }
    val maxK = configs.map { case (_, b, r) => b * r }.max
    val t = sigged(docs, id, text, storage, maxK)
    operatingReportMulti(t, configs, minJaccard)
  }

  /** ALL configs' operating rows off one sigged/index frame (doc_id,
    * sh, sig) in ONE plan — one banded self-join over the union of the
    * configs' band expansions, one distinct, one verify pass. A pair's
    * membership in config (b, r) is equivalent to sharing at least one
    * of its signature slices, so it is recomputed per union candidate
    * from the two shipped sig arrays (b array-slice comparisons —
    * cheap next to the shingle-set intersection the verify already
    * pays); both counts of every config then fall out of ONE aggregate
    * row. vs the previous per-config plan branches (N self-joins, N
    * distincts, N verify joins, an N-branch union to plan and
    * schedule): the candidate bill is paid once on the UNION —
    * measured on the d8b retune pair (default (4,4) + tuned (15,1),
    * where every (4,4) candidate shares a 4-slice and therefore its
    * single entries, i.e. the union IS the (15,1) set), the (4,4)
    * branch's entire verify join drops out. Counts are bit-identical:
    * the distinct union pair set restricted by slice-membership IS
    * config c's distinct candidate set (string bsig equality over ':'
    * joined ints ⟺ slice array equality — the delimiter cannot occur
    * inside an int's digits), and the jaccard arithmetic is unchanged.
    * Zero-candidate configs keep their zero row: the single aggregate
    * emits one row even over an empty input, and the per-config
    * reshape explodes a literal struct array. */
  private def operatingReportMulti(t: DataFrame,
                                   configs: Seq[(String, Int, Int)],
                                   minJaccard: Double): DataFrame = {
    // every config's (band, bsig) rows in one generator pass, config-
    // tagged: the self-join key keeps config so cross-config bsig
    // collisions (equal strings from DIFFERENT slices) never pair
    val bandStructs = configs.map { case (n, b, r) =>
      transform(sequence(lit(0), lit(b - 1)), j => struct(
        lit(n).as("config"), j.as("band"),
        concat_ws(":", slice(col("sig"), j * r + 1, lit(r))).as("bsig")))
    }
    val bandRows = t.select(col("doc_id"),
        explode(flatten(array(bandStructs: _*))).as("cb"))
      .select(col("doc_id"), col("cb.config"), col("cb.band"), col("cb.bsig"))
    val pairs = bandRows.as("a").join(bandRows.as("b"),
        col("a.config") === col("b.config") && col("a.band") === col("b.band") &&
          col("a.bsig") === col("b.bsig") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val withSets = pairs
      .join(t.select(col("doc_id").as("doc_a"), col("sh").as("sha"),
        col("sig").as("siga")), "doc_a")
      .join(t.select(col("doc_id").as("doc_b"), col("sh").as("shb"),
        col("sig").as("sigb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jacc_ok", (col("inter").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("inter"))) >= minJaccard)
    def member(b: Int, r: Int): Column =
      exists(sequence(lit(0), lit(b - 1)), j =>
        slice(col("siga"), j * r + 1, lit(r)) ===
          slice(col("sigb"), j * r + 1, lit(r)))
    val aggCols = configs.zipWithIndex.flatMap { case ((_, b, r), i) =>
      val m = member(b, r)
      Seq(
        coalesce(sum(when(m, 1L).otherwise(0L)), lit(0L)).as(s"nc_$i"),
        coalesce(sum(when(m && col("jacc_ok"), 1L).otherwise(0L)), lit(0L))
          .as(s"np_$i"))
    }
    val one = withSets.agg(aggCols.head, aggCols.tail: _*)
    val rows = configs.zipWithIndex.map { case ((n, b, r), i) =>
      struct(lit(n).as("config"), lit(b).as("bands"),
        lit(r).as("rows_per_band"), col(s"nc_$i").as("n_candidates"),
        col(s"np_$i").as("n_pairs"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.config"), col("r.bands"), col("r.rows_per_band"),
        col("r.n_candidates"), col("r.n_pairs"))
  }

  /** The corpus's precomputable LSH band index: one (doc_id, band,
    * bsig) row per doc per band. This is the artifact a nightly or
    * streaming ingest joins against (see [[minHashLshPairsBetween]] and
    * [[graft.streaming.CurationStream.nearDupFlagStream]]); the
    * persisted form is [[writeDedupIndex]], from which this derives
    * map-only. */
  def bandIndex(docs: DataFrame, id: Column, text: Column): DataFrame =
    banded(sigged(docs, id, text, StorageLevel.NONE))

  // ---- persisted dedup index ------------------------------------------
  //
  // The nightly-ingest artifact the incremental path (d8) joins
  // against. One (doc_id, sh, sig) row per corpus doc — everything
  // candidate generation (bands, exploded map-only from sig) AND exact
  // verification (sh) need, so a batch ingest never rescans or
  // re-shingles the corpus text. Stored in a versioned
  // [[graft.sources.SnapshotStore]]: ingests MERGE their batch in
  // (keyed on doc_id), readers resolve the atomic current pointer.
  // With plain parquet snapshots the probe pays one index shuffle per
  // ingest — still O(corpus bands), never O(corpus text). The
  // BUCKETED variants below delete that shuffle too: the band index
  // lives in a metastore table bucketed on the probe's join key, so
  // every nightly probe reads the corpus side pre-partitioned
  // (spec-asserted: no Exchange above either index scan).

  /** Build and commit the full dedup index for `docs`; returns the
    * committed snapshot version. */
  def writeDedupIndex(docs: DataFrame, id: Column, text: Column,
                      dir: String): Int =
    graft.sources.SnapshotStore.commit(sigged(docs, id, text, StorageLevel.NONE), dir)

  /** MERGE an incoming batch's index rows into the persisted index
    * (upsert keyed on doc_id) — the post-probe maintenance step of a
    * nightly ingest; O(batch) new rows against the store. */
  def updateDedupIndex(incoming: DataFrame, id: Column, text: Column,
                       dir: String): Int =
    graft.sources.SnapshotStore.mergeInto(
      sigged(incoming, id, text, StorageLevel.NONE), dir, Seq("doc_id"))

  /** The persisted (doc_id, sh, sig) index frame. */
  def readDedupIndex(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame =
    graft.sources.SnapshotStore.read(spark, dir).getOrElse(
      throw new IllegalStateException(s"no dedup index committed at $dir"))

  /** The persisted index in [[bandIndex]] shape — what the streaming
    * probe ([[graft.streaming.CurationStream.nearDupFlagStream]])
    * takes as its static side. Map-only over the index parquet. */
  def readBandIndex(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame =
    banded(readDedupIndex(spark, dir))

  /** [[minHashLshPairsBetween]] against the PERSISTED index: the
    * incoming batch is shingled and signed once; the corpus side is
    * read entirely from the index parquet — no corpus text scan
    * anywhere in the plan (spec-asserted). Output: (doc_a = corpus id,
    * doc_b = incoming id, exact jaccard). */
  def minHashLshPairsAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                                  indexDir: String, incoming: DataFrame,
                                  id: Column, text: Column,
                                  minJaccard: Double,
                                  storage: StorageLevel = Caching.Default): DataFrame = {
    val ta = readDedupIndex(spark, indexDir)
    val tb = sigged(incoming, id, text, storage)
    val cand = banded(ta).as("a").join(banded(tb).as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verified(cand, ta, tb, minJaccard)
  }

  // ---- bucketed persisted dedup index ---------------------------------
  //
  // Metastore-table form of the index through the shared
  // [[graft.sources.BucketedStore]] protocol (one atomic `<name>_ptr`
  // version pointer; same machinery as the ANN index), bucketed on the
  // probe's join keys: `<name>_bands` holds (doc_id, band, bsig)
  // bucketed by (band, bsig) — candidate generation joins it with NO
  // exchange on the corpus side — and `<name>_docs` holds (doc_id, sh,
  // sig) bucketed by doc_id — exact verification fetches corpus
  // shingles, again exchange-free on the index side. Single-writer,
  // like every log-less table format.

  import graft.sources.BucketedStore

  private val DedupIndexTables = Seq("bands", "docs", "plan")

  /** The committed current index version (see
    * [[BucketedStore.currentVersion]]). */
  def currentBucketedVersion(spark: org.apache.spark.sql.SparkSession,
                             name: String): Option[Int] =
    BucketedStore.currentVersion(spark, name)

  /** Drop every catalog object and on-disk remnant of bucketed index
    * `name` (see [[BucketedStore.drop]]). Also forgets the session's
    * memoized plans for `name`: a rebuilt index restarts at version 0,
    * so a retained (name, 0) memo entry could answer with the dropped
    * index's plan. */
  def dropDedupIndexBucketed(spark: org.apache.spark.sql.SparkSession,
                             name: String): Unit = {
    planMemo.synchronized {
      Option(planMemo.get(spark)).foreach(_.filterInPlace {
        case ((n, _), _) => n != name
      }): Unit
    }
    BucketedStore.drop(spark, name, DedupIndexTables)
  }

  /** Session-scoped memo of committed plans: a version's one-row
    * `plan` member is written exactly once at commit and never
    * mutated, so re-reading it is pure control-plane work a memo can
    * answer — the same immutable-metadata argument as
    * [[graft.sources.Tables]]' plan memo (and the same weak session
    * key so stopped test sessions aren't pinned). Every probe and
    * every reband resolves the plan, so a retune key paid 3+ one-row
    * `head()` jobs per invocation for values that cannot change.
    * Only plans read from an existing plan table enter the memo (an
    * absent version's default is never pinned). Invalidation: only
    * [[dropDedupIndexBucketed]] can make a (name, version) recur with
    * different content — it clears the name's entries. */
  private val planMemo =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.concurrent.TrieMap[(String, Int), (Int, Int)]]()

  /** Commit one bucketed-index version. `docs` always stores the FULL
    * K=16 signature (plan-agnostic — the pool-prefix contract lets any
    * plan with bands·rows ≤ 16 band it); `bands` is derived AT the
    * committed plan, and the one-row `plan` member makes the index
    * self-describing so a probe can never band the incoming side at a
    * different plan than the committed bands table. */
  private def commitBucketed(index: DataFrame, name: String, buckets: Int,
                             bands: Int = Bands,
                             rowsPerBand: Int = RowsPerBand,
                             carryDocsFrom: Option[Int] = None,
                             carryBandsFrom: Option[Int] = None): Int = {
    require(bands >= 1 && rowsPerBand >= 1 &&
      bands * rowsPerBand <= Bands * RowsPerBand,
      s"bands*rowsPerBand must be in [1, ${Bands * RowsPerBand}] " +
        s"(the stored signature length), got ($bands, $rowsPerBand)")
    val spark = index.sparkSession
    import spark.implicits._
    // carryDocsFrom: the docs member is byte-identical to that
    // version's (a reband recomputes only bands+plan — its documented
    // contract), so publish it as a carried view instead of rewriting
    // the corpus-sized member (BucketedStore.Carry). carryBandsFrom:
    // same for bands when a donor version provably holds
    // content-identical bands (same plan, same docs backing — the
    // caller's check, see rebandDedupIndexBucketed).
    BucketedStore.commit(spark, name,
      Seq(
        BucketedStore.Member("plan",
          Seq((bands, rowsPerBand)).toDF("bands", "rows_per_band"))) ++
        (if (carryBandsFrom.isEmpty)
          Seq(BucketedStore.Member("bands", banded(index, bands, rowsPerBand),
            Seq("band", "bsig")))
        else Nil) ++
        (if (carryDocsFrom.isEmpty)
          Seq(BucketedStore.Member("docs", index, Seq("doc_id")))
        else Nil),
      buckets,
      carryDocsFrom.map(BucketedStore.Carry("docs", _)).toSeq ++
        carryBandsFrom.map(BucketedStore.Carry("bands", _)).toSeq)
  }

  /** The committed banding plan of version `v` — the one-row `plan`
    * member (control-plane read); indexes committed before the plan
    * member existed read as the default (4, 4). */
  def committedPlan(spark: org.apache.spark.sql.SparkSession,
                    name: String, v: Int): (Int, Int) = {
    val perSession = planMemo.synchronized {
      var m = planMemo.get(spark)
      if (m == null) {
        m = new scala.collection.concurrent.TrieMap[(String, Int), (Int, Int)]()
        planMemo.put(spark, m)
      }
      m
    }
    // only a plan read from an existing table is memoized: a version
    // queried before it is committed (or after retention dropped it)
    // reads the default without pinning it for the session
    perSession.get((name, v)).getOrElse {
      if (spark.catalog.tableExists(s"${name}_plan_v$v")) {
        val r = BucketedStore.table(spark, name, "plan", v).head()
        perSession.getOrElseUpdate((name, v), (r.getInt(0), r.getInt(1)))
      } else (Bands, RowsPerBand)
    }
  }

  /** Build and commit the full BUCKETED dedup index for `docs` as
    * metastore tables `<name>_bands` / `<name>_docs`; returns the
    * committed version. `buckets` is the deploy knob: pick it so a
    * bucket's band rows fit one task (corpus bands / buckets). */
  def writeDedupIndexBucketed(docs: DataFrame, id: Column, text: Column,
                              name: String, buckets: Int = 32): Int =
    commitBucketed(sigged(docs, id, text, StorageLevel.NONE), name, buckets)

  /** MERGE an incoming batch into the bucketed index (upsert keyed on
    * doc_id, schema-stable) and commit the next version — the
    * maintenance step after [[minHashLshPairsAgainstBucketedIndex]].
    * The rewrite cost is one pass over the index — the price of
    * bucketed parquet without a row-level log; at deploy cadence
    * (nightly) that pass is the same scan the NEXT probe would have
    * paid in shuffle form on an unbucketed snapshot. */
  def updateDedupIndexBucketed(incoming: DataFrame, id: Column, text: Column,
                               name: String, buckets: Int = 32): Int = {
    val spark = incoming.sparkSession
    val v = currentBucketedVersion(spark, name).getOrElse(
      throw new IllegalStateException(s"no bucketed dedup index named $name"))
    val merged = graft.operators.Merge.upsert(
      BucketedStore.table(spark, name, "docs", v),
      sigged(incoming, id, text, StorageLevel.NONE), Seq("doc_id"))
    val (pb, pr) = committedPlan(spark, name, v)
    commitBucketed(merged, name, buckets, pb, pr)
  }

  /** Remove a doc id set from the bucketed index — the takedown /
    * recrawl-tombstone leg completing the store's lifecycle (the
    * dedup twin of `Search.deleteFromIndex` / `AnnIndex.delete`):
    * the surviving docs table is one anti-join, and the bands table
    * re-derives from it at commit, so bands can never hold a deleted
    * doc's signatures. A probe after delete equals a probe of an
    * index built fresh on the surviving corpus (signatures are
    * per-doc deterministic; spec-asserted). Returns the new version. */
  def deleteFromDedupIndexBucketed(ids: DataFrame, name: String,
                                   buckets: Int = 32): Int = {
    val spark = ids.sparkSession
    val v = currentBucketedVersion(spark, name).getOrElse(
      throw new IllegalStateException(s"no bucketed dedup index named $name"))
    val del = broadcast(
      ids.select(col(ids.columns.head).as("doc_id")).distinct())
    val (pb, pr) = committedPlan(spark, name, v)
    commitBucketed(
      BucketedStore.table(spark, name, "docs", v)
        .join(del, Seq("doc_id"), "left_anti"),
      name, buckets, pb, pr)
  }

  /** [[minHashLshPairsAgainstIndex]] against the BUCKETED index:
    * candidate generation joins `<name>_bands` on its bucketing key
    * (band, bsig) and verification fetches `<name>_docs` on its
    * bucketing key doc_id, so the only exchanges in the plan are on
    * the O(batch) incoming side — the corpus-side scans are
    * partition-aligned by layout (DedupIndexSpec asserts no Exchange
    * above either index scan). */
  def minHashLshPairsAgainstBucketedIndex(
      spark: org.apache.spark.sql.SparkSession, name: String,
      incoming: DataFrame, id: Column, text: Column, minJaccard: Double,
      storage: StorageLevel = Caching.Default): DataFrame = {
    // pin ONE version up front (atomic ptr) and read both member
    // tables at it — a probe planned mid-commit can't mix a new bands
    // table with old docs
    val v = currentBucketedVersion(spark, name).getOrElse(
      throw new IllegalStateException(s"no bucketed dedup index named $name"))
    // the index is self-describing: band the incoming side at the
    // COMMITTED plan. The batch is SIGNED at the full pool length, not
    // at bands·rows: the pool-prefix contract makes banding's slices
    // identical either way, and the full-K signature plan is
    // canonically the same for every probe of one batch — so a retune
    // flow that probes before AND after a reband (d8b's contract)
    // shares ONE cached shingle+sign pass across both probes instead
    // of re-signing the batch per committed plan (the second pass was
    // a full batch text scan; the price is hashing the pool tail per
    // shingle on the first probe).
    val (pb, pr) = committedPlan(spark, name, v)
    val tb = sigged(incoming, id, text, storage, MinHashPoolA.size)
    val cand = BucketedStore.table(spark, name, "bands", v).as("a")
      .join(banded(tb, pb, pr).as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verified(cand, BucketedStore.table(spark, name, "docs", v), tb, minJaccard)
  }

  /** RE-BAND the bucketed index to a new (bands, rowsPerBand) plan —
    * the measured-retune maintenance step (the SCALING.md r14 lesson:
    * the right plan CHANGES as the corpus grows, because a low-r
    * recall plan's candidate bill grows super-linearly in corpus
    * size). One pass over the stored docs table — the full-K
    * signatures are plan-agnostic, so NO re-shingling, NO corpus text
    * scan, no re-signing: only the bands member recomputes (map-only
    * from sig) and the self-describing plan row updates. Probes pick
    * the new plan up automatically at the next version resolve.
    * Returns the committed version. */
  def rebandDedupIndexBucketed(spark: org.apache.spark.sql.SparkSession,
                               name: String, bands: Int, rowsPerBand: Int,
                               buckets: Int = 32): Int = {
    val v = currentBucketedVersion(spark, name).getOrElse(
      throw new IllegalStateException(s"no bucketed dedup index named $name"))
    // IDEMPOTENT: a reband to the already-committed plan, with the
    // bands member already bucketed as requested, would write a
    // byte-identical version (bands is a pure function of the stored
    // signatures and the plan) — return the current version instead of
    // churning one. A changed `buckets` alone is a real reband. Retune flows reset the index to a known plan every
    // run; in steady state that reset is this no-op.
    def bandsBucketedAs(w: Int): Boolean = {
      val pb = BucketedStore.backingVersion(spark, name, "bands", w)
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_bands_v$pb"))
        .bucketSpec.exists(_.numBuckets == buckets)
    }
    if (committedPlan(spark, name, v) == ((bands, rowsPerBand)) &&
        bandsBucketedAs(v)) return v
    // docs CARRIES (content-identical across a reband): only bands —
    // map-only from the stored signatures — and the one-row plan are
    // written, which is what "no re-shingling, no corpus text scan,
    // no re-signing" must mean at 100 TB: a reband that rewrote the
    // docs member would pay a full corpus write anyway.
    // bands ALSO carries when a retained version provably holds
    // content-identical bands — same committed plan AND same docs
    // physical backing (bands = banded(docs, plan), deterministic) AND
    // a physical bands table bucketed as requested. A retune loop
    // oscillating between two known plans (reset → demote → reset…)
    // then commits only the one-row plan member: the 100 TB shape of
    // a reband between plans whose band tables both already exist.
    val docsBacking = BucketedStore.backingVersion(spark, name, "docs", v)
    val donor = (math.max(0, v - 1) to v).findLast { w =>
      committedPlan(spark, name, w) == ((bands, rowsPerBand)) &&
        spark.catalog.tableExists(s"${name}_docs_v$w") &&
        BucketedStore.backingVersion(spark, name, "docs", w) == docsBacking &&
        spark.catalog.tableExists(s"${name}_bands_v$w") && bandsBucketedAs(w)
    }
    commitBucketed(BucketedStore.table(spark, name, "docs", v),
      name, buckets, bands, rowsPerBand, carryDocsFrom = Some(v),
      carryBandsFrom = donor)
  }

  /** [[lshOperatingReport]] computed ENTIRELY off the bucketed index —
    * no corpus text anywhere in the plan: candidates from the stored
    * full-K signatures banded per config (map-only), exact verify from
    * the stored shingle sets. This is how a nightly maintenance job
    * prices a retune candidate on the live corpus without re-reading
    * it. */
  def lshOperatingReportFromIndex(spark: org.apache.spark.sql.SparkSession,
                                  name: String, minJaccard: Double,
                                  configs: Seq[(String, Int, Int)],
                                  storage: StorageLevel = Caching.Default): DataFrame = {
    require(configs.nonEmpty, "operating report needs at least one config")
    configs.foreach { case (n, b, r) =>
      require(b >= 1 && r >= 1 && b * r <= Bands * RowsPerBand,
        s"config $n: bands*rowsPerBand must be in [1, ${Bands * RowsPerBand}]" +
          s" (the stored signature length)")
    }
    val v = currentBucketedVersion(spark, name).getOrElse(
      throw new IllegalStateException(s"no bucketed dedup index named $name"))
    // address docs at its backing PHYSICAL table: a reband CARRIES
    // docs, so reading through the carried view would (a) key the
    // session caches below on a view name retention later drops —
    // DROP VIEW uncaches dependent entries — and (b) make two
    // versions' byte-identical reports plan-distinct. The physical
    // table is the carry's own content pin.
    val t = Caching.persisted(
      BucketedStore.physicalTable(spark, name, "docs", v), storage)
    // persist the REPORT too (configs-sized — one row per config):
    // the report is a pure function of the stored docs member and the
    // config list, and retune flows price the SAME index repeatedly
    // under different budgets (the budget enters only the driver-side
    // choose step) — the persisted one-row frame lets every later
    // pricing of this docs member skip the union verify join, the
    // single most expensive job of a retune invocation (measured
    // ~2 s at sf0.1).
    Caching.persisted(operatingReportMulti(t, configs, minJaccard), storage)
  }

  /** Close the retune loop: measure the operating report on the live
    * index, [[Banding.chooseOperatingOutcome]] under the
    * candidates-per-pair budget, and RE-BAND when the winner differs
    * from the committed plan. The outcome is TYPED
    * ([[Banding.Choice]]) so the two no-reband cases stay apart:
    * [[Banding.NoPairs]] = the corpus has nothing to dedup at this
    * threshold (keep the committed plan, report zero yield — not an
    * alarm); [[Banding.OverBudget]] = pairs exist but every config's
    * bill busts the budget (the caller alarms rather than shipping an
    * over-budget plan). `newVersion` is Some only when a reband
    * committed (a chosen winner equal to the committed plan is a
    * no-op). `storage` is the report's signature-frame persistence
    * knob — pass StorageLevel.NONE when a long-lived nightly session
    * must not churn the block manager on repeated retunes
    * ([[graft.operators.Caching]]'s documented opt-out). */
  def rebandToBudget(spark: org.apache.spark.sql.SparkSession,
                     name: String, minJaccard: Double,
                     configs: Seq[(String, Int, Int)],
                     maxCandidatesPerPair: Double,
                     buckets: Int = 32,
                     storage: StorageLevel = Caching.Default):
      (Banding.Choice, Option[Int]) = {
    val report = lshOperatingReportFromIndex(spark, name, minJaccard,
      configs, storage)
    val outcome = Banding.chooseOperatingOutcome(report, maxCandidatesPerPair)
    val v = currentBucketedVersion(spark, name).get
    outcome match {
      case Banding.Chosen(op)
        if (op.bands, op.rowsPerBand) != committedPlan(spark, name, v) =>
        (outcome, Some(rebandDedupIndexBucketed(spark, name,
          op.bands, op.rowsPerBand, buckets)))
      case _ => (outcome, None)
    }
  }

  /** Incremental near-dup: LSH pairs BETWEEN an existing corpus and an
    * incoming batch — the nightly-append shape: the corpus's band table
    * is a precomputable index, the incoming batch only ever joins
    * against it, never against itself, so ingesting N new docs costs
    * O(N·K) + the bucket joins regardless of corpus size. Output:
    * (doc_a = corpus id, doc_b = incoming id, exact jaccard). */
  def minHashLshPairsBetween(corpus: DataFrame, incoming: DataFrame,
                             id: Column, text: Column,
                             minJaccard: Double,
                             storage: StorageLevel = Caching.Default): DataFrame = {
    val ta = sigged(corpus, id, text, storage)
    val tb = sigged(incoming, id, text, storage)
    val cand = banded(ta).as("a").join(banded(tb).as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verified(cand, ta, tb, minJaccard)
  }

  /** Cross-corpus dedup APPLY — the d6-to-d3 relationship for
    * [[minHashLshPairsBetween]]'s d9 audit (the audit counts the
    * overlap; this removes it): the `incoming` corpus minus every doc
    * near-duplicate to ANY `reference` doc — the RefinedWeb/CCNet move
    * of deduplicating a new crawl snapshot against the corpus already
    * kept, and the near-dup generalization of exact cross-corpus
    * decontamination. The reference side is never filtered (it is the
    * kept truth); survivors are incoming docs only.
    *
    * One between-sides band join (sides never self-join — O(incoming)
    * work against the reference band index, the d8 posture) + one
    * left_anti on the drop id set. `idName` names the incoming-side id
    * column for the anti-join. */
  def crossDedupApply(reference: DataFrame, incoming: DataFrame,
                      idName: String, text: Column, minJaccard: Double,
                      storage: StorageLevel = Caching.Default): DataFrame = {
    val drops = minHashLshPairsBetween(reference, incoming, col(idName),
      text, minJaccard, storage)
      .select(col("doc_b").as(idName)).distinct()
    incoming.join(drops, Seq(idName), "left_anti")
  }

  /** Verbatim substring-overlap pairs — the exact-substring dedup
    * flavor (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better", finds verbatim cross-doc runs with a
    * suffix array; a suffix array is a single-machine artifact, so the
    * Spark shape samples instead): every doc emits the md5 of each
    * `window`-char substring at offsets 0, stride, 2·stride, …; docs
    * sharing any sampled window hash are overlap candidates, scored by
    * their count of distinct shared window hashes. Detection is
    * deterministic for any shared run of at least
    * window + 2·(stride−1) chars (both docs then sample some common
    * aligned window regardless of phase); shorter shared runs are
    * caught phase-dependently. `maxDocFreq` drops boilerplate windows
    * (shared by more than that many docs) from pair generation — the
    * same viral-blocker cap as the capped Jaccard path, without which
    * one common header makes m² pairs.
    *
    * Scale shape: map-only window explode (|text|/stride rows), one
    * distinct, df-capped hash equi-join, keyed count — never an
    * all-pairs stage. Output: (doc_a, doc_b, n_shared) over cool
    * windows only. */
  def verbatimOverlapPairs(docs: DataFrame, id: Column, text: Column,
                           window: Int = 40, stride: Int = 20,
                           maxDocFreq: Int = 10): DataFrame = {
    require(window > 0 && stride > 0 && maxDocFreq > 1,
      s"invalid window=$window stride=$stride maxDocFreq=$maxDocFreq")
    val wins = docs
      .select(id.as("doc_id"), text.as("t"))
      .filter(length(col("t")) >= window)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), length(col("t")) - window, lit(stride))).as("off"))
      .select(col("doc_id"),
        md5(col("t").substr(col("off") + 1, lit(window))).as("wh"))
      .distinct()
    // df cap as a count-over-window by window-hash rather than an
    // agg+join-back: the branch form re-executes the expensive
    // explode+md5+distinct per branch (column pruning defeats
    // exchange reuse), while the window keeps ONE tree and leaves the
    // frame hash-partitioned by wh for the self-join that follows
    val cw = wins
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("wh"))))
      .filter(col("df") <= maxDocFreq)
      .drop("df")
    cw.as("a").join(cw.as("b"),
        col("a.wh") === col("b.wh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Cross-document duplicate-LINE removal — the corpus-level line
    * dedup of the CCNet recipe (Wenzek et al. 2020 deduplicate crawl
    * text at paragraph granularity before anything else; boilerplate
    * navigation/footer lines shared across a site's every page are
    * the dominant duplicate mass in a web crawl). Keep-first policy at
    * line granularity: each distinct non-blank line's global FIRST
    * occurrence — first in (doc_id, line position) order — survives;
    * every later occurrence in ANY document is dropped. The cross-doc
    * complement of [[graft.text.TextAnalysis.dedupLines]] (intra-doc
    * only, map-only) and the line-granularity sibling of
    * [[verbatimScrub]]'s window-hash keep-first (which catches
    * duplicated runs inside lines; this catches whole repeated lines
    * exactly, with no sampling caveat). Blank lines pass through — they
    * are document structure, and hashing '' corpus-wide would collapse
    * every paragraph break onto one owner.
    *
    * Scale shape: map-only line explode, ONE partial-aggregating
    * groupBy on the line to its min-(doc_id, pos) owner, one equi-join
    * back, one per-doc regroup (collect_list bounded by the doc's own
    * line count). Two keyed shuffles, no windows over corpus-sized
    * frames, no driver collect. At 100 TB hash the line (md5) for the
    * owner groupBy key if raw-line shuffle width matters; semantics
    * are unchanged.
    *
    * Output: one row per input doc — (doc_id, n_lines, n_kept,
    * dedup_md5 of the rejoined surviving text; empty-string digest
    * when every line was dropped). */
  def crossDocLineDedup(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val base = docs.select(id.as("doc_id"), text.as("t"))
    val lines = base.select(col("doc_id"),
      posexplode(split(col("t"), "\n")).as(Seq("pos", "line")))
    val owner = lines.filter(col("line") =!= "")
      .groupBy("line")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    val kept = lines.join(owner, Seq("line"), "left")
      .filter(col("line") === "" ||
        struct(col("doc_id"), col("pos")) === col("f"))
    val reb = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept2"),
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        p => p.getField("line")), "\n").as("dedup_text"))
    base.select(col("doc_id"),
        size(split(col("t"), "\n")).cast("long").as("n_lines"))
      .join(reb, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept2"), lit(0L)).cast("long").as("n_kept"),
        md5(coalesce(col("dedup_text"), lit(""))).as("dedup_md5"))
  }

  /** Span-level dedup removal — the APPLY leg of
    * [[verbatimOverlapPairs]] (the d6-to-d3 relationship, for
    * substrings): Lee et al. 2021's actual pipeline output is a
    * scrubbed corpus with every LATER occurrence of a duplicated span
    * cut out of the text, not a pair report. Keep-first policy: the
    * global first occurrence of each sampled `window`-char span —
    * first in (doc_id, offset) order — is the owner and stays; every
    * other occurrence (cross-doc or a later repeat inside the same
    * doc) is marked for removal. Marked windows within a doc are
    * merged into maximal intervals (overlapping/adjacent strided
    * windows of one long duplicated run collapse to one cut) and the
    * text is rebuilt from the surviving gaps.
    *
    * No pair join at all — unlike the pair report, the scrub only
    * needs first-occurrence marking: one partial-aggregated groupBy
    * on the window hash (min (doc_id, off) struct), one equi-join
    * back, then per-doc interval merge under batch-sized windows.
    * At 100 TB every stage is the corpus-linear window explode or a
    * keyed shuffle on window hashes / doc ids; nothing quadratic.
    * Sampling caveat inherited from the detector: duplicated runs
    * shorter than window + 2·(stride−1) are caught phase-dependently.
    *
    * Output: one row per input doc — (doc_id, scrubbed, n_cut) with
    * n_cut = characters removed (0 for untouched docs). */
  def verbatimScrub(docs: DataFrame, id: Column, text: Column,
                    window: Int = 40, stride: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    require(window > 0 && stride > 0, s"invalid window=$window stride=$stride")
    val base = docs.select(id.as("doc_id"), text.as("t"))
    val wins = base
      .filter(length(col("t")) >= window)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), length(col("t")) - window, lit(stride))).as("off"))
      .select(col("doc_id"), col("off"),
        md5(col("t").substr(col("off") + 1, lit(window))).as("wh"))
    // keep-first: the minimum (doc_id, off) per window hash owns it
    val first = wins.groupBy("wh")
      .agg(min(struct(col("doc_id"), col("off"))).as("f"))
    val cuts = wins.join(first, "wh")
      .filter(struct(col("doc_id"), col("off")) =!= col("f"))
      .select(col("doc_id"), col("off"), (col("off") + window).as("e"))
    // merge overlapping/adjacent cut windows per doc (gaps-and-islands;
    // (doc_id, off) is unique so the order is total)
    val byOff = W.partitionBy("doc_id").orderBy("off")
    val merged = cuts
      .withColumn("pmax",
        max(col("e")).over(byOff.rowsBetween(W.unboundedPreceding, -1)))
      .withColumn("island",
        sum((col("pmax").isNull || col("off") > col("pmax")).cast("long"))
          .over(byOff))
      .groupBy("doc_id", "island")
      .agg(min("off").as("s"), max("e").as("e"))
    // rebuild: kept piece before each cut = [prev cut end, cut start),
    // plus the tail after the last cut
    val bys = W.partitionBy("doc_id").orderBy("s")
    val pieced = merged.join(base, "doc_id")
      .withColumn("ps", coalesce(lag(col("e"), 1).over(bys), lit(0)))
      .withColumn("piece",
        col("t").substr(col("ps") + 1, (col("s") - col("ps")).cast("int")))
    val rebuilt = pieced.groupBy("doc_id").agg(
      concat(
        array_join(transform(
          array_sort(collect_list(struct(col("s"), col("piece")))),
          p => p.getField("piece")), ""),
        max(col("t")).substr(max(col("e")) + 1, length(max(col("t"))))
      ).as("scrubbed2"),
      sum(col("e") - col("s")).cast("long").as("n_cut2"))
    base.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("scrubbed2"), col("t")).as("scrubbed"),
        coalesce(col("n_cut2"), lit(0L)).as("n_cut"))
  }

  /** 64-bit SimHash fingerprint as a 16-hex-char string, over word
    * tokens (with multiplicity). Bits come from the two md5 32-bit
    * halves, kept separate to avoid sign overflow; bit j set iff the
    * signed token-vote sum is > 0 (ties -> 0). Map-only; computed by
    * the single-pass [[graft.functions.SimHash64]] kernel
    * (spec-checked bit-identical to the per-bit HOF formulation). */
  def simHashHex(text: Column): Column =
    ColumnBridge.column(graft.functions.SimHash64(
      ColumnBridge.expression(TextAnalysis.tokens(text))))

  /** Near-dup pairs by SimHash hamming distance <= maxDist, blocked on
    * equal 16-bit fingerprint quarters (any pair within hamming<=3 of a
    * 64-bit print shares at least one of 4 quarters). */
  def simHashPairs(docs: DataFrame, id: Column, text: Column,
                   maxDist: Int = 3): DataFrame =
    hexFingerprintPairs(
      docs.select(id.as("doc_id"), simHashHex(text).as("fp")), maxDist)

  /** The banding/popcount half of [[simHashPairs]], reusable for ANY
    * 16-hex-char 64-bit fingerprint column (SimHash, the multimodal
    * aHash): quarter-band equi-join candidate generation (lossless for
    * hamming <= 3 by pigeonhole over the 4 quarters; wider maxDist
    * keeps equal recall guarantees only up to 3 — callers wanting
    * hamming > 3 guarantees should band eighths), exact popcount
    * verify on distinct pairs. Input: (doc_id, fp). */
  def hexFingerprintPairs(t: DataFrame, maxDist: Int = 3): DataFrame = {
    val banded = t.select(col("doc_id"), col("fp"), explode(
      transform(sequence(lit(0), lit(3)),
        q => struct(q.as("q"), substring(col("fp"), q * 4 + 1, lit(4)).as("qs")))).as("b"))
      .select(col("doc_id"), col("fp"), col("b.q"), col("b.qs"))
    val hamming = {
      // popcount of xor over the two 32-bit halves (hex -> long), no UDF
      val x1 = conv(substring(col("a.fp"), 1, 8), 16, 10).cast("long")
        .bitwiseXOR(conv(substring(col("b.fp"), 1, 8), 16, 10).cast("long"))
      val x2 = conv(substring(col("a.fp"), 9, 8), 16, 10).cast("long")
        .bitwiseXOR(conv(substring(col("b.fp"), 9, 8), 16, 10).cast("long"))
      (bit_count(x1) + bit_count(x2)).cast("long")
    }
    banded.as("a").join(banded.as("b"),
        col("a.q") === col("b.q") && col("a.qs") === col("b.qs") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
