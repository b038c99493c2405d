package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed n-gram language-model scoring for training-data curation —
  * the CCNet-style "perplexity filter" (Wenzek et al. 2020): score each
  * document with an n-gram LM trained on the corpus (or a reference corpus)
  * and use the perplexity as a quality signal.
  *
  * The smoothing is Stupid Backoff (Brants et al. 2007, "Large Language
  * Models in Machine Translation"), THE distributed-scale choice: scores are
  * plain count ratios with a fixed backoff multiplier, so training is
  * nothing but two count aggregations — no discount/normalization constants
  * that would need a second global pass — and every stage is a standard
  * shuffle with map-side partial aggregation.
  *
  * Scale shape (100 TB corpus): `trainBigram` is two explode→groupBy counts,
  * gram-partitioned; the per-token fan-out is absorbed map-side, so each
  * shuffle carries one row per distinct gram per task. `scoreDocs` joins the
  * per-document gram stream against the count tables keyed by gram — shuffle
  * joins that AQE converts to broadcast when the model fits (it usually
  * doesn't at corpus scale) and skew-splits on stop-word grams when it
  * doesn't. The token total rides a one-row broadcast. Nothing touches the
  * driver.
  */
object LanguageModel {

  /** A trained bigram LM: unigram counts `(w, c1)`, bigram counts
    * `(w1, w2, c2)`, and the one-row token total `(n_tokens)`. The count
    * tables are plain DataFrames — persist or write them out to reuse one
    * model across many scoring jobs (train-once / score-many).
    */
  case class BigramLm(unigrams: DataFrame, bigrams: DataFrame, totals: DataFrame)

  /** Per-row bigram struct stream `(w1, w2)` from a token-array column;
    * empty when the document has fewer than two tokens. (`sequence(0, n-2)`
    * alone would be WRONG at n=0/1: Spark's `sequence` runs descending when
    * start > stop, so the guard is load-bearing.)
    */
  private def bigramStructs(toks: org.apache.spark.sql.Column) =
    when(size(toks) < 2, array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - 2),
        i => struct(element_at(toks, i + 1).as("w1"),
          element_at(toks, i + 2).as("w2"))))

  /** Train a bigram Stupid-Backoff LM over `textCol`. Tokenization is the
    * engine-standard [[TextAnalysis.tokens]] (lowercased whitespace split),
    * so scores are comparable across every operator in this library.
    */
  def trainBigram(corpus: DataFrame, textCol: String): BigramLm = {
    val toks = corpus.select(TextAnalysis.tokens(col(textCol)).as("__t"))
    val unigrams = toks
      .select(explode(col("__t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val bigrams = toks
      .select(explode(bigramStructs(col("__t"))).as("g"))
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
    val totals = unigrams.agg(sum("c1").as("n_tokens"))
    BigramLm(unigrams, bigrams, totals)
  }

  /** PMI collocation mining — the phrase-discovery pass of a curation
    * pipeline (which multi-word expressions behave as units: "new york",
    * "machine learning") and a vocabulary-health audit signal. For every
    * bigram with count ≥ `minCount`,
    *
    *   PMI(w1, w2) = ln( c(w1 w2) · N / (c(w1) · c(w2)) )
    *
    * reported INTEGERIZED as round(`scale` · PMI) — the [[Curation.dsirScore]]
    * determinism policy: the ratio's numerator/denominator are products of
    * exact int64 counts multiplied as doubles (each factor exact, product
    * correctly rounded; exact below 2⁵³), both engines hand `ln` the same
    * double, and the rounded integer is order-independent and
    * hash-matchable cross-engine.
    *
    * Scale shape: reuses [[trainBigram]]'s two map-side-combined count
    * aggregations; the PMI projection joins bigram rows to the two unigram
    * counts gram-keyed (AQE broadcasts the unigram table when it fits) and
    * the one-row total rides a broadcast; `minCount` prunes the candidate
    * set BEFORE the joins. Output is the global top-`topK` by
    * (pmi desc, w1, w2) — a k-bounded TakeOrdered, no window.
    */
  def pmiCollocations(
      corpus: DataFrame,
      textCol: String,
      minCount: Long = 5L,
      topK: Int = 100,
      scale: Double = 1e6): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val lm = trainBigram(corpus, textCol)
    lm.bigrams.where(col("c2") >= minCount)
      .join(lm.unigrams.withColumnRenamed("w", "w1")
        .withColumnRenamed("c1", "__ca"), Seq("w1"))
      .join(lm.unigrams.withColumnRenamed("w", "w2")
        .withColumnRenamed("c1", "__cb"), Seq("w2"))
      .crossJoin(broadcast(lm.totals))
      .select(col("w1"), col("w2"), col("c2"),
        round(lit(scale) * log(
          (col("c2").cast("double") * col("n_tokens")) /
            (col("__ca").cast("double") * col("__cb"))))
          .cast("long").as("pmi_scaled"))
      .orderBy(desc("pmi_scaled"), col("w1"), col("w2"))
      .limit(topK)
  }

  /** Score documents with a trained [[BigramLm]] under Stupid Backoff:
    *
    *   S(w2 | w1) = c(w1 w2) / c(w1)            when the bigram was seen,
    *              = alpha * c(w2) / N           otherwise (backoff),
    *              = alpha * 1 / N               when w2 is OOV.
    *
    * Output per document: `n_grams` (scored bigram positions), `n_hit`
    * (positions the bigram table covered), `n_backoff`, `coverage`
    * (= n_hit / n_grams, exact IEEE division of integers), and `log10_ppl`
    * (= −mean log10 S — lower is more fluent under the model). Documents
    * with fewer than two tokens score `n_grams = 0` with null `log10_ppl`.
    *
    * The exact-integer columns and `coverage` are engine-reproducible
    * bit-for-bit (see SparkEntry's oracle rules); `log10_ppl` is
    * transcendental (log), so cross-engine checks pin the count columns and
    * the ppl math is pinned by LanguageModelSpec's hand-computed fixtures.
    */
  def scoreDocs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      lm: BigramLm,
      alpha: Double = 0.4): DataFrame = {
    val grams = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__t"))
      .select(col(idCol), explode(bigramStructs(col("__t"))).as("g"))
      .select(col(idCol), col("g.w1").as("w1"), col("g.w2").as("w2"))
    val joined = grams
      .join(lm.bigrams, Seq("w1", "w2"), "left")
      .join(lm.unigrams.withColumnRenamed("w", "w1")
        .withColumnRenamed("c1", "__c_w1"), Seq("w1"), "left")
      .join(lm.unigrams.withColumnRenamed("w", "w2")
        .withColumnRenamed("c1", "__c_w2"), Seq("w2"), "left")
      .crossJoin(broadcast(lm.totals))
    val logS = when(col("c2").isNotNull,
        log10(col("c2").cast("double") / col("__c_w1")))
      .otherwise(log10(
        lit(alpha) * coalesce(col("__c_w2"), lit(1L)).cast("double") /
          col("n_tokens")))
    val perDoc = joined
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        count(col("c2")).as("n_hit"),
        sum(logS).as("__sum_log"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_grams"), lit(0L)) - coalesce(col("n_hit"), lit(0L)))
          .as("n_backoff"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_grams"), lit(0L)), lit(1L))).as("coverage"),
        // (0.0 − x)/n, not -x/n: a perfectly-predicted document has
        // sum_log = 0.0 and must score 0.0, not IEEE −0.0.
        when(col("n_grams") > 0, (lit(0.0) - col("__sum_log")) / col("n_grams"))
          .as("log10_ppl"))
  }

  /** Convenience: train on `corpus`, score `docs` (self-scoring — the usual
    * corpus-quality sweep — when they are the same table).
    */
  def perplexityScores(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      corpus: DataFrame,
      alpha: Double = 0.4): DataFrame =
    scoreDocs(docs, idCol, textCol, trainBigram(corpus, textCol), alpha)

  /** Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; the
    * smoothing KenLM made the de-facto standard for CCNet-style perplexity
    * filtering) with absolute discount D = 3/4 — chosen BECAUSE it makes
    * every per-token probability an EXACT RATIONAL of corpus counts:
    *
    *   P(w2|w1) = max(c(w1,w2) − 3/4, 0)/c(w1)
    *              + (3/4)·(N1+(w1·)/c(w1))·(N1+(·w2)/T)
    *
    * over the common denominator 4·c(w1)·T this is
    *   num = max(4·c2 − 3, 0)·T + 3·N1+(w1·)·N1+(·w2),  den = 4·c(w1)·T
    * (unseen history w1: pure continuation, num = 4·N1+(·w2), den = 4·T;
    * fully-unseen w2 floors at num = 1). num/den are int64-exact while
    * c2·T < 2^61 — per-document Σnum/Σden ship as exact integers any
    * engine replays bit-for-bit; `logprob` (Σ ln(num/den)) is the usable
    * quality score but carries libm's ulp, so oracles compare the integer
    * columns and specs pin the doubles (the q_bm25 precedent).
    *
    * Scale shape: three count aggregations at train (bigrams + the two
    * continuation-type tables derived from them — each one map-side-
    * combined groupBy), then gram-keyed joins at score, exactly
    * [[scoreDocs]]'s join plan plus two more narrow count tables; the
    * bigram-type total rides a one-row broadcast.
    */
  def kneserNeyScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      lm: BigramLm): DataFrame = {
    val fanout = lm.bigrams.groupBy("w1").agg(count(lit(1)).as("n1f"))
    val contin = lm.bigrams.groupBy("w2").agg(count(lit(1)).as("n1r"))
    val types = lm.bigrams.agg(count(lit(1)).as("n_types"))
    val grams = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__t"))
      .select(col(idCol), explode(bigramStructs(col("__t"))).as("g"))
      .select(col(idCol), col("g.w1").as("w1"), col("g.w2").as("w2"))
    val joined = grams
      .join(lm.bigrams, Seq("w1", "w2"), "left")
      .join(lm.unigrams.withColumnRenamed("w", "w1")
        .withColumnRenamed("c1", "__c_w1"), Seq("w1"), "left")
      .join(fanout, Seq("w1"), "left")
      .join(contin, Seq("w2"), "left")
      .crossJoin(broadcast(types))
    val c2v = coalesce(col("c2"), lit(0L))
    val n1fv = coalesce(col("n1f"), lit(0L))
    val n1rv = coalesce(col("n1r"), lit(0L))
    val seen = col("__c_w1").isNotNull && col("__c_w1") > 0
    val num = when(seen,
        greatest(greatest(lit(4L) * c2v - 3L, lit(0L)) * col("n_types")
          + lit(3L) * n1fv * n1rv, lit(1L)))
      .otherwise(when(n1rv > 0, lit(4L) * n1rv).otherwise(lit(1L)))
    val den = when(seen, lit(4L) * col("__c_w1") * col("n_types"))
      .otherwise(lit(4L) * col("n_types"))
    val perDoc = joined
      .select(col(idCol), num.as("__num"), den.as("__den"),
        col("c2").isNotNull.cast("long").as("__hit"),
        (!seen).cast("long").as("__unseen"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("__hit")).as("n_hit"),
        sum(col("__unseen")).as("n_unseen_hist"),
        sum(col("__num")).as("sum_num"),
        sum(col("__den")).as("sum_den"),
        sum(log(col("__num").cast("double") / col("__den"))).as("__lp"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_unseen_hist"), lit(0L)).as("n_unseen_hist"),
        coalesce(col("sum_num"), lit(0L)).as("sum_num"),
        coalesce(col("sum_den"), lit(0L)).as("sum_den"),
        col("__lp").as("logprob"))
  }

  /** Greedy bigram continuation — the deterministic core of
    * LM-synthetic-data generation, distributed: every document extends
    * its LAST token `steps` words by repeatedly following the corpus
    * bigram argmax (most frequent successor, ties to the
    * lexicographically smallest — the choice that makes generation a
    * pure function of the corpus). A dead-end word (no observed
    * successor) stops that document's generation early; `n_gen` reports
    * how far it got. Useful as-is for prompt-continuation smoke data
    * and as the deterministic skeleton the tempered-sampling variant
    * ([[negativeSamples]]' md5-ladder draw) plugs into.
    *
    * Scale shape: the best-successor table is ONE map-side-combined
    * argmax aggregation (min(struct(−count, w2)) — no window) over the
    * bigram counts, |vocab| rows, persisted and joined `steps` times
    * against the |docs|-row state (AQE broadcasts it when it fits);
    * generation state is (id, seed, current word, text so far) — the
    * corpus itself is read once for seeds.
    */
  def greedyContinuation(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      corpus: DataFrame,
      steps: Int = 8): DataFrame = {
    // Each step chains one more join into a SINGLE unbroken lineage; past
    // a few dozen the plan itself (analysis, codegen, stack depth)
    // becomes the cost, not the data. 32 bounds the depth at a measured-
    // safe level; longer generations should fold the successor map into
    // a broadcast lookup expression (one narrow pass, any step count)
    // rather than deepen the join chain.
    require(steps >= 1 && steps <= 32,
      s"steps must be in [1, 32] (plan depth is linear in steps), got $steps")
    val lm = trainBigram(corpus, textCol)
    // No persist: the N step-joins reference this IDENTICAL subtree inside
    // one action, so Spark's ReusedExchange computes the aggregation once
    // and replays the exchange for every join — a persist() here would
    // leak a cached vocab-sized table per call with no handle to
    // unpersist (the returned frame is lazy).
    val best = lm.bigrams
      .groupBy(col("w1"))
      .agg(min(struct((-col("c2")).as("nc"), col("w2").as("w"))).as("m"))
      .select(col("w1").as("w"), col("m.w").as("__next"))
    var st = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) > 0)
      .select(col(idCol), element_at(col("__t"), -1).as("seed"),
        element_at(col("__t"), -1).as("w"), lit("").as("gen"),
        lit(0L).as("n_gen"))
    (1 to steps).foreach { _ =>
      st = st.join(best, Seq("w"), "left")
        .select(col(idCol), col("seed"),
          col("__next").as("w"),
          when(col("__next").isNotNull,
            when(col("gen") === "", col("__next"))
              .otherwise(concat(col("gen"), lit(" "), col("__next"))))
            .otherwise(col("gen")).as("gen"),
          (col("n_gen") + col("__next").isNotNull.cast("long")).as("n_gen"))
    }
    st.select(col(idCol), col("seed"), col("gen").as("continuation"),
      col("n_gen"))
  }

  /** CCNet perplexity buckets (Wenzek et al. 2020 §4.3): per language,
    * rank documents by how well a reference-trained LM models them and
    * cut each language's ranking into `nBuckets` equal-count tiers —
    * tier "head" = cleanest (the slice CCNet keeps first), "tail" =
    * worst-modeled. The LM is the [[kneserNeyScore]] rational (D = 3/4
    * absolute discount), but trained PER LANGUAGE — CCNet's defining
    * trait — by adding the language to every gram key, so ONE aggregation
    * pass over the reference slice trains ALL per-language models
    * simultaneously (no per-language job loop; each shuffle row just
    * carries the lang string alongside the gram).
    *
    * Determinism: the ranking score is sum_num/sum_den — both int64-exact
    * KN sums, their CAST and IEEE division correctly rounded, so every
    * engine computes the identical double; ties (exact-duplicate texts)
    * break on doc id. Documents of a language ABSENT from the reference
    * slice score at the unseen floor (num = 1 per gram) and land in the
    * tail deterministically; documents with < 2 tokens score 0.
    *
    * Scale shape: [[kneserNeyScore]]'s train/score plan with lang-keyed
    * joins; the ntile window per language is the one global-sort stage —
    * at 100 TB swap it for CCNet's actual production move (cut at
    * per-language threshold scores computed once on a sample, then a
    * narrow comparison), keeping this exact ranking as the audit-scale
    * parity check.
    */
  def perplexityBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      trainFilter: org.apache.spark.sql.Column,
      nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val tk = docs.select(col(idCol), col(langCol),
      TextAnalysis.tokens(col(textCol)).as("__t"))
    val trainTk = docs.where(trainFilter)
      .select(col(langCol), TextAnalysis.tokens(col(textCol)).as("__t"))
    val uni = trainTk.select(col(langCol), explode(col("__t")).as("w1"))
      .groupBy(col(langCol), col("w1")).agg(count(lit(1)).as("c1"))
    val bg = trainTk
      .select(col(langCol), explode(bigramStructs(col("__t"))).as("g"))
      .groupBy(col(langCol), col("g.w1").as("w1"), col("g.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
    // uni and fanout share the (lang, w1) key: merge them MODEL-SIDE
    // (outer — a unigram can lack bigram fanout and vice versa is
    // impossible but harmless) so the per-gram stream pays ONE w1-keyed
    // join instead of two. The stream's shuffle mass dominates at scale
    // (sf10: the model outgrows broadcast and every join re-exchanges
    // the stream), so each merged lookup removes a full stream pass.
    val fanout = bg.groupBy(col(langCol), col("w1"))
      .agg(count(lit(1)).as("n1f"))
    val w1Side = uni.join(fanout, Seq(langCol, "w1"), "full_outer")
    val contin = bg.groupBy(col(langCol), col("w2"))
      .agg(count(lit(1)).as("n1r"))
    val types = bg.groupBy(col(langCol)).agg(count(lit(1)).as("n_types"))
    val grams = tk
      .select(col(idCol), col(langCol), explode(bigramStructs(col("__t"))).as("g"))
      .select(col(idCol), col(langCol), col("g.w1").as("w1"), col("g.w2").as("w2"))
    val joined = grams
      .join(bg, Seq(langCol, "w1", "w2"), "left")
      .join(w1Side, Seq(langCol, "w1"), "left")
      .join(contin, Seq(langCol, "w2"), "left")
      .join(broadcast(types), Seq(langCol), "left")
    val c2v = coalesce(col("c2"), lit(0L))
    val n1fv = coalesce(col("n1f"), lit(0L))
    val n1rv = coalesce(col("n1r"), lit(0L))
    val tyv = greatest(coalesce(col("n_types"), lit(0L)), lit(1L))
    val seen = col("c1").isNotNull && col("c1") > 0
    val num = when(seen,
        greatest(greatest(lit(4L) * c2v - 3L, lit(0L)) * tyv
          + lit(3L) * n1fv * n1rv, lit(1L)))
      .otherwise(when(n1rv > 0, lit(4L) * n1rv).otherwise(lit(1L)))
    val den = when(seen, lit(4L) * col("c1") * tyv).otherwise(lit(4L) * tyv)
    val perDoc = joined
      .select(col(idCol), num.as("__num"), den.as("__den"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("__num")).as("sum_num"),
        sum(col("__den")).as("sum_den"))
    val scored = docs.select(col(idCol), col(langCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col(langCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("sum_num"), lit(0L)).as("sum_num"),
        coalesce(col("sum_den"), lit(0L)).as("sum_den"))
      .withColumn("quality",
        when(col("sum_den") > 0,
          col("sum_num").cast("double") / col("sum_den").cast("double"))
          .otherwise(lit(0.0)))
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("quality").desc, col(idCol).asc)
    scored
      .withColumn("bucket", ntile(nBuckets).over(w).cast("long"))
      .withColumn("tier",
        when(col("bucket") === 1, lit("head"))
          .when(col("bucket") === nBuckets, lit("tail"))
          .otherwise(lit("middle")))
  }

  /** Deterministic negative sampling from the tempered unigram
    * distribution — the draw word2vec/contrastive training consumes
    * (Mikolov et al. 2013 sample negatives ∝ count^0.75; this uses the
    * T = 2 temper, count^0.5, because `sqrt` is IEEE-correctly-rounded in
    * every engine where `pow(·, 0.75)`'s last ulp is libm-specific — the
    * [[graft.ops.Curation.temperatureMix]] determinism trade, same
    * flattening intent). Per (document, slot) the draw is a pure function
    * of (id, slot, salt): a 52-bit md5 uniform against the integer
    * cumulative-weight ladder of the top-`vocabSize` terms — re-runs,
    * retries, and independent engines sample identically, so the oracle
    * replays every drawn term.
    *
    * Scale shape: ONE token-count aggregation elects the vocabulary (the
    * driver holds vocabSize rows; cache it via [[electVocab]] +
    * [[negativeSamplesFromVocab]] for repeated passes); terms and
    * cumulative bounds become plan literals; draws are narrow per-row
    * CODEGEN'D column algebra — an unrolled comparison ladder, see the
    * in-body note on why a higher-order `filter` form is 8× slower. No
    * alias table needed at this vocab scale — and the ladder, unlike an
    * alias table, is order-stable and SQL-replayable.
    */
  /** Elect the top-`vocabSize` (term, count) table for [[negativeSamples]]
    * — the BUILD-ONCE artifact of the sampler (one token-count aggregate,
    * k-bounded TakeOrdered, driver holds vocabSize rows). Cache it and
    * repeated sampling passes pay only the narrow draw algebra.
    */
  def electVocab(df: DataFrame, textCol: String,
      vocabSize: Int = 50): IndexedSeq[(String, Long)] = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("t")).limit(vocabSize).collect()
      .map(r => (r.getString(0), r.getLong(1))).toIndexedSeq
  }

  def negativeSamples(
      df: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int = 50,
      k: Int = 5,
      weightScale: Long = 65536L,
      salt: String = "graft"): DataFrame =
    negativeSamplesFromVocab(df, idCol,
      electVocab(df, textCol, vocabSize), k, weightScale, salt)

  /** [[negativeSamples]] against a pre-elected vocabulary (the cached-
    * artifact path: election once, draws many).
    */
  def negativeSamplesFromVocab(
      df: DataFrame,
      idCol: String,
      vocab: IndexedSeq[(String, Long)],
      k: Int = 5,
      weightScale: Long = 65536L,
      salt: String = "graft"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(vocab.nonEmpty, "negativeSamples: empty vocabulary")
    val terms = vocab.map(_._1)
    val ws = vocab.map(v =>
      math.floor(math.sqrt(v._2.toDouble) * weightScale).toLong)
    val cum = ws.scanLeft(0L)(_ + _).tail.toIndexedSeq
    val total = cum.last
    val draw = Curation.hashUniform(
      concat(col(idCol).cast("string"), lit(":"), col("neg_idx").cast("string")),
      salt)
    // The ladder lookup stays PURE CODEGEN — vocabSize inline comparisons
    // for the rank, a when-chain for the term — and the draw (`__r`) and
    // rank (`__idx`) are STAGED as their own projection columns instead
    // of being re-inlined at every reference site. Inlined, the tree is
    // O(vocabSize²) nodes (the `idx` subtree — itself vocabSize copies of
    // the md5 draw — repeats inside every when-branch): ~1 s of
    // construction + 0.5 s of analysis per run at vocabSize = 50
    // (driver-phase profile, r16). Staged, each subtree appears once and
    // CollapseProject keeps the projections separate (non-cheap exprs
    // with >1 consumer are never inlined back), so codegen evaluates the
    // draw and the rank once per row into local variables. Any
    // higher-order-function form (`element_at(terms, size(filter(cum,
    // ...)))`) is worse still: it drops the projection to interpreted
    // mode, which has NO subexpression elimination — measured 12 s vs
    // 1.6 s on the sf1 stress for identical semantics.
    val idx = cum.map(c => (lit(c) <= col("__r")).cast("int"))
      .reduce(_ + _) + 1
    val term = terms.zipWithIndex.tail
      .foldLeft(when(col("__idx") === 1, terms.head)) { case (acc, (t, i)) =>
        acc.when(col("__idx") === (i + 1), t)
      }
    df.select(col(idCol), explode(sequence(lit(1), lit(k))).as("neg_idx"))
      .withColumn("__r", floor(draw * total).cast("long"))
      .withColumn("__idx", idx)
      .select(col(idCol), col("neg_idx").cast("int").as("neg_idx"),
        term.as("term"))
  }
}
