package graft

import graft.engine.Reporting
import graft.functions.TextFunctions.simhash64
import graft.ops.{Align, Bpe, Curation, Dedup, Graph, Intervals, LanguageModel, Multimodal, NaiveBayes, Scale, Similarity, Sketches, Stats, TextAnalysis, TextSearch, UnigramLm, Web}

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one [[SparkEntry.QueryCase]] per operator of SURVEY.md
  * §2 (mapped onto the synthetic testdata tables) plus the LLM-data-pipeline
  * operators, each registered once with its DuckDB oracle SQL.
  *
  * Oracle-parity rules (the driver hash-compares values):
  *   - `events.ts` is nanosecond parquet; Spark reads it as epoch-nanos long
  *     (`spark.sql.legacy.parquet.nanosAsLong`), DuckDB as TIMESTAMP_NS —
  *     both sides project `epoch_ms`.
  *   - doubles are rounded only at the data's own decimal granularity (sums
  *     of 2-decimal values → round 2), where both engines snap to the same
  *     exact value; `avg()` is avoided (tie-rounding differs between
  *     engines); ratios of exact integers are emitted unrounded (identical
  *     IEEE division on both sides).
  *   - every oracled query has a deterministic total ORDER BY on both sides.
  */
object SparkEntry {

  /** Build-once fixtures, memoized per (kind, session, dir): resolved scan
    * handles and the persisted indexes the build-once/search-many queries
    * search. A bench rep after the first therefore times only the query's
    * own scan path. `TrieMap.getOrElseUpdate`, not
    * `ConcurrentHashMap.computeIfAbsent`: a fixture's build may memo
    * another fixture (`events` builds its `t` entry) in the same map, a
    * recursive update that `computeIfAbsent` throws on. Two racing
    * builders may both build; one result wins.
    */
  private val memos =
    new scala.collection.concurrent.TrieMap[(String, SparkSession, String), Any]
  private def memo[T](kind: String, s: SparkSession, dir: String)(build: => T): T =
    memos.getOrElseUpdate((kind, s, dir), build).asInstanceOf[T]

  /** Resolved scan handle of a testdata table. This is PLAN memoization,
    * not result caching: `spark.read.parquet` re-reads the footer and
    * re-resolves the relation on every call, which at one bench sweep ×
    * 286 queries × 1-4 tables each is ~50-100 ms of pure driver analysis
    * per query (measured as a driver phase, r16) — a catalog table would
    * be resolved once. Every execution still scans the parquet from disk;
    * nothing is persisted or collected here.
    */
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    memo(s"table $name", s, dir)(s.read.parquet(s"$dir/$name.parquet"))

  /** Per-JVM memoized temp trees for oracle queries with WRITE-side
    * fixtures (boom writers, maintenance jobs): repeated constructions —
    * plan audits iterate every registered query, Verify + budgets re-run
    * them — reuse one materialized tree per (tag, sfDir) instead of
    * re-paying the fixture write + jobs, and a shutdown hook removes the
    * dirs so CI runs don't accumulate /tmp garbage. getOrElseUpdate on
    * TrieMap may race two builders; both register cleanup hooks, one
    * result wins — correct either way.
    */
  private val fixtureDirs =
    new scala.collection.concurrent.TrieMap[(String, String), String]
  private def fixtureDir(tag: String, sfDir: String)(
      build: String => Unit): String =
    fixtureDirs.getOrElseUpdate((tag, sfDir), {
      val d = java.nio.file.Files.createTempDirectory(tag)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import java.nio.file.Files
        try {
          val s = Files.walk(d)
          try s.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { Files.deleteIfExists(p); () })
          finally s.close()
        } catch { case _: Exception => () }
      }))
      build(d.toString)
      d.toString
    })

  /** Deterministic presentation order for a bounded final result WITHOUT the
    * range sort's boundary-sampling pass: `orderBy` atop an expensive
    * projection executes the child TWICE — once through the range
    * partitioner's sampler to pick boundaries, then again for the real
    * sort. Every oracle result here is a small aggregate/pair set, so one
    * round-robin shuffle into a single partition plus an in-partition sort
    * runs the projection exactly once and sorts trivially. The queries keep
    * a deterministic TOTAL order (class doc), so the output sequence is
    * identical to `orderBy`'s. Genuinely large ordered output (the
    * formatted log stream) keeps its range sort or merged sorted runs
    * (LogQuery.formatted / printTo) — this helper is presentation-only.
    */
  private implicit class PresentationOrder(private val df: DataFrame) {
    def presented(c0: String, cs: String*): DataFrame =
      df.repartition(1).sortWithinPartitions(c0, cs: _*)
    def presented(cols: Column*): DataFrame =
      df.repartition(1).sortWithinPartitions(cols: _*)
  }

  /** events with `ts` NORMALIZED to epoch-nanos long plus derived `ts_ms`
    * (see class doc). The driver's generator has shipped `ts` as BOTH
    * nanosecond parquet (read as epoch-nanos long via
    * `spark.sql.legacy.parquet.nanosAsLong`) and, since round 7, plain
    * microsecond TIMESTAMP/TIMESTAMP_NTZ — so the layout is detected from
    * the file schema and converted to the same epoch-nanos `ts` every
    * downstream query was written against. NTZ→LTZ is exact under the
    * suite-wide UTC session timezone (the same instant DuckDB's
    * `epoch_ms(ts)` reports).
    *
    * Sessions reading the LEGACY nanos layout must set
    * `spark.sql.legacy.parquet.nanosAsLong=true` at build time (Bench,
    * Verify and the test base all do) — a query builder must not mutate
    * shared session conf per call (unsafe under concurrent reuse), so no
    * `conf.set` happens here; without the flag the nanos footer fails at
    * schema read with Spark's illegal-Parquet-type error, which names the
    * flag to set.
    */
  private def events(s: SparkSession, dir: String): DataFrame =
    memo("events", s, dir) {
      val raw = t(s, dir, "events")
      val e = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => raw
        case _ => raw.withColumn("ts",
          unix_micros(col("ts").cast("timestamp_ltz")) * 1000L)
      }
      e.withColumn("ts_ms", expr("ts DIV 1000000"))
    }

  /** Time-range filter on the RAW scan column, not the derived ts_ms: a
    * predicate on a conversion expression can never reach the scan. On the
    * timestamp layout the filter compares the unconverted column against
    * TIMESTAMP_NTZ literals — eligible for parquet row-group pushdown — and
    * the nanos conversion happens above the filter; on the legacy
    * nanos-long layout it compares the long column (not convertible by
    * ParquetFilters, but kept in pushable form; real log tables prune via
    * the hour-directory catalog either way, as LogCatalog does).
    */
  private def eventsInRange(s: SparkSession, dir: String, fromMs: Long, untilMs: Long): DataFrame = {
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        events(s, dir)
          .where(col("ts") >= fromMs * 1000000L && col("ts") < untilMs * 1000000L)
      case org.apache.spark.sql.types.TimestampNTZType =>
        def ntzLit(ms: Long) = lit(java.time.LocalDateTime.ofEpochSecond(
          math.floorDiv(ms, 1000L), (math.floorMod(ms, 1000L) * 1000000L).toInt,
          java.time.ZoneOffset.UTC))
        raw.where(col("ts") >= ntzLit(fromMs) && col("ts") < ntzLit(untilMs))
          .withColumn("ts", unix_micros(col("ts").cast("timestamp_ltz")) * 1000L)
          .withColumn("ts_ms", expr("ts DIV 1000000"))
      case _ =>
        raw.where(col("ts") >= timestamp_millis(lit(fromMs)) &&
            col("ts") < timestamp_millis(lit(untilMs)))
          .withColumn("ts", unix_micros(col("ts")) * 1000L)
          .withColumn("ts_ms", expr("ts DIV 1000000"))
    }
  }

  /** documents augmented with known duplicates (first 20 docs re-inserted
    * under offset ids) so dedup operators have guaranteed positives at every
    * scale factor.
    */
  private def docsWithDupes(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.unionByName(d.where(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + 1000000L))
  }

  private val docsWithDupesSql =
    """(SELECT * FROM documents
      | UNION ALL
      | SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
      | FROM documents WHERE doc_id < 20) AS dd""".stripMargin

  // 2024-01-02T00:00:00Z .. 2024-01-05T00:00:00Z
  private val rangeStartMs = 1704153600000L
  private val rangeEndMs = 1704412800000L

  /** BM25 demo query terms (present in the synthetic corpus vocabulary). */
  private val Bm25Terms = Seq("table", "spark", "hash")
  private val EvalTerms = Seq("spark", "join", "vector", "line", "fast")
  private val RakeStopwords = Seq(
    "the", "a", "of", "and", "to", "in", "is", "for", "with", "on")

  /** Split fractions / mix weights shared by the queries and their generated
    * oracle SQL (single source of truth for the thresholds).
    */
  private val SplitFracs = Seq("test" -> 0.1, "valid" -> 0.1, "train" -> 0.8)
  private val MixWeights = Map("src0" -> 0.2, "src1" -> 0.5, "src2" -> 0.8)

  /** Domains the q_url_blocklist query filters (shared with its oracle). */
  private val BlockedDomains = Seq("site1.com", "site3.co.uk", "site7.org")

  /** q_keyword_tags dictionary (shared with its oracle), pre-sorted so both
    * engines emit tags in the same order. Deliberately exercises nested
    * terms (tab ⊂ table ⊂ "table value"), phrases, and shared suffixes.
    */
  private val KeywordDict = Seq("able", "fast table", "hash", "scan slow",
    "spark", "tab", "table", "table value", "value")
  private val keywordDictSql = KeywordDict.map(t => s"'$t'").mkString("[", ", ", "]")

  /** documents with a synthesized `url` column — a pure function of doc_id
    * that exercises every [[graft.ops.Web]] normalization rule: scheme
    * mix, www/blog subdomains, 5 TLDs incl. multi-part suffixes, all-caps
    * case noise, root + trailing-slash paths, tracking query params, and
    * fragments. The oracle re-derives the identical URL from id
    * arithmetic.
    */
  private def withUrls(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val scheme = when(id % 4 === 0, "http").otherwise("https")
    val sub = when(id % 3 === 0, "www.").when(id % 3 === 1, "blog.")
      .otherwise("")
    val tld = element_at(
      typedLit(Seq("com", "org", "co.uk", "io", "com.au")),
      (id % 5 + 1).cast("int"))
    val host0 = concat(sub, lit("site"), (id % 37).cast("string"),
      lit("."), tld)
    val host = when(id % 11 === 0, upper(host0)).otherwise(host0)
    val path = when(id % 7 === 0, "/").otherwise(
      concat(lit("/p/"), (id % 97).cast("string"),
        when(id % 2 === 0, "/").otherwise("")))
    val query = when(id % 6 === 0,
        concat(lit("utm_source=feed&id="), (id % 13).cast("string")))
      .when(id % 6 === 3, lit("ref=home"))
      .when(id % 6 === 1,
        concat(lit("id="), (id % 13).cast("string"), lit("&utm_campaign=x")))
      .otherwise("")
    val frag = when(id % 8 === 0, "#top").otherwise("")
    t(s, dir, "documents").select(id,
      concat(scheme, lit("://"), host, path,
        when(query === "", "").otherwise(concat(lit("?"), query)),
        frag).as("url"))
  }

  /** Session-cached persisted MinHash band index (build-once/dedup-many —
    * the incremental-crawl contract: the corpus index is written once and
    * every batch dedups against it without touching corpus rows). 32×2
    * banding makes blocking effectively exhaustive at j ≥ 0.8
    * (P(miss) ≈ 1.7e-15, the q_ngram_jaccard configuration), so the exact
    * string-set oracle reproduces the output.
    */
  private def bandIndexFor(s: SparkSession, dir: String): Dedup.BandIndex =
    memo("bandIndex", s, dir) {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      Dedup.writeBandIndex(t(s, dir, "documents"), "doc_id", "text",
        s"inc_bands$tag", s"inc_sets$tag", bands = 32)
    }

  /** Session-cached kNN graph for [[ops.Similarity.graphSearch]] — the
    * build-once-search-many contract every graph index lives by (the
    * q_ann_ivf rationale: at 100 TB nobody rebuilds the graph per query
    * batch, so the measured query is the SEARCH).
    */
  private def knnGraphFor(s: SparkSession, dir: String): DataFrame =
    memo("knnGraph", s, dir) {
      val g = Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 10)
      g.persist()
      g.count()
      g
    }

  /** Session-cached coarse routing layer for
    * [[ops.Similarity.graphSearchLayered]] — built once like the kNN
    * graph it routes into (the same build-once-search-many contract).
    */
  private def coarseLayerFor(s: SparkSession, dir: String): DataFrame =
    memo("coarseLayer", s, dir) {
      val c = Similarity.coarseLayer(t(s, dir, "embeddings"), "vec_id")
      c.persist()
      c.count()
      c
    }

  /** Scoped harness tuning for the streaming-law queries: the number of
    * state-store partitions is pinned per query from
    * `spark.sql.shuffle.partitions` at FIRST batch (AQE does not apply to
    * streams), and every micro-batch commits one delta file per partition
    * per stateful operator — at 32 partitions the bounded harness feeds
    * pay ~16× the state-commit I/O their few hundred rows need (the r14
    * 28 s q_stream_attribution envelope). The partition count changes
    * NOTHING semantically (final reports are a pure function of the row
    * multiset; the harness re-sorts collected output) — it only
    * right-sizes the per-batch overhead to the feed. r17 measurement:
    * state-store commit is ~35 ms per store INSTANCE per batch and the
    * stream-stream join holds 4 stores per partition, so 1 partition
    * halves the r16 commit cost vs the previous 2. The conf is restored
    * on exit; the query handle itself captures the partition count at
    * `start()`, so restoring immediately after start is safe.
    */
  private def withStreamConf[T](s: SparkSession)(start: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val ckey = "spark.sql.streaming.checkpointLocation"
    val ndkey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.get(key)
    val prevCk = s.conf.getOption(ckey)
    val prevNd = s.conf.getOption(ndkey)
    s.conf.set(key, "1")
    // No-data micro-batches OFF for the bounded harness replays (r17,
    // guide §1/§2: measured per-trigger breakdown showed HALF of all
    // batches were rows=0 no-data triggers at ~0.5 s each for the
    // stream-stream join — pure machinery). Spark inserts them so that
    // watermark-gated output flows without waiting for new data; the
    // harness feeds explicit flush batches instead (two per stream — the
    // first advances the watermark, the second's trigger evicts/fires),
    // so every final emission already has a DATA batch to ride and the
    // collected output is identical (oracle re-proven). Production
    // streams that rely on timeout firing during quiet periods should
    // keep the Spark default (true).
    s.conf.set(ndkey, "false")
    // nio checkpoint manager for the local scratch checkpoints (r17):
    // avoids the ~35 ms fork/exec-chmod Hadoop local-FS tax per atomic
    // checkpoint write — see [[graft.streaming.LocalCheckpointFileManager]].
    // Only set when the checkpoint base is the managed local scratch dir;
    // a caller-conf'd (possibly remote) checkpointLocation keeps Spark's
    // own manager.
    val fmkey = "spark.sql.streaming.checkpointFileManagerClass"
    val prevFm = s.conf.getOption(fmkey)
    streamCkptBase.foreach { base =>
      s.conf.set(fmkey, classOf[graft.streaming.LocalCheckpointFileManager].getName)
      s.conf.set(ckey, base)
    }
    try start finally {
      s.conf.set(key, prev)
      prevNd match {
        case Some(v) => s.conf.set(ndkey, v)
        case None => s.conf.unset(ndkey)
      }
      prevFm match {
        case Some(v) => s.conf.set(fmkey, v)
        case None => s.conf.unset(fmkey)
      }
      prevCk match {
        case Some(v) => s.conf.set(ckey, v)
        case None => s.conf.unset(ckey)
      }
    }
  }

  /** Harness checkpoint base on tmpfs when the host has one: the
    * micro-batch offset/commit logs and state-store deltas are pure
    * scratch for these bounded replays (every query starts from a fresh
    * UUID subdir — Spark appends one per query under the conf'd base),
    * and /tmp on this class of host is disk-backed, so fsync cost lands
    * on the measured path. Deleted on JVM exit; falls back to Spark's
    * default temp-checkpoint behavior when /dev/shm is absent.
    */
  private lazy val streamCkptBase: Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (!shm.isDirectory || !shm.canWrite) None
    else {
      val d = java.nio.file.Files.createTempDirectory(shm.toPath,
        "graft-stream-ckpt")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(d.toFile)
      }))
      Some(d.toString)
    }
  }

  /** Harness scratch dir that does not leak across bench/verify runs:
    * created under [[streamCkptBase]]'s shutdown-hook-cleaned tmpfs base
    * when present (a bench executes each query warmup + reps times, so a
    * per-execution temp dir under /tmp accumulates), else a plain temp
    * dir as before.
    */
  private def harnessScratchDir(prefix: String): String =
    streamCkptBase match {
      case Some(base) => java.nio.file.Files
        .createTempDirectory(java.nio.file.Paths.get(base), prefix).toString
      case None =>
        java.nio.file.Files.createTempDirectory(prefix).toString
    }

  /** Bounded streaming harness for the oracled streaming queries: feed
    * the given micro-batches through a MemoryStream, run `build`'s
    * streaming Dataset to completion batch by batch, and return every
    * emitted row. The batch-equality laws of the LogStream operators
    * (state = pure function of the seen row multiset) are what make the
    * FINAL per-key reports exactly replayable by a batch engine — which
    * is the whole point: a streaming-semantics regression (state merge,
    * eviction order, emit timing) now fails the DuckDB oracle, not just
    * the specs' fixtures. The feed is a deterministic bounded SUBSET of
    * the table (the harness contract — MemoryStream is driver-fed);
    * scale evidence for streaming lives with the Boom micro-batch
    * source, not here.
    */
  private def runStreamFinal[I: Encoder, O: Encoder](
      s: SparkSession, batches: Seq[Seq[I]], mode: String = "update")(
      build: Dataset[I] => Dataset[O]): Seq[O] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[I]
    val out = build(input.toDS())
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[O]()
    val q = withStreamConf(s) {
      out.writeStream.outputMode(mode)
        .foreachBatch { (b: Dataset[O], _: Long) =>
          b.collect().foreach(buf.add); ()
        }.start()
    }
    try batches.foreach { rows =>
      if (rows.nonEmpty) { input.addData(rows: _*); q.processAllAvailable() }
    } finally q.stop()
    scala.jdk.CollectionConverters.CollectionHasAsScala(buf).asScala.toList
  }

  /** Session-cached INTEGER-exact IVF (assignment + codebook) for
    * q_nprobe_sweep — the build-once contract, like every other index.
    */
  private def intIvfFor(
      s: SparkSession, dir: String): (DataFrame, IndexedSeq[Seq[Long]]) =
    memo("intIvf", s, dir) {
      val (asg, cents) = Similarity.kMeansQuantizedIvf(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 8, iters = 2)
      asg.persist()
      asg.count()
      (asg, cents)
    }

  /** Session-cached IVF index over `embeddings` (build-once/search-many —
    * the IVF contract: the quantizer fit + cell assignment are the reusable
    * expensive half, searches are the repeated cheap half). The assigned
    * corpus is persisted so repeated query batches scan memory, not parquet.
    */
  private def ivfIndexFor(s: SparkSession, dir: String): Similarity.IvfIndex =
    memo("ivfIndex", s, dir) {
      val idx = Similarity.buildIvfIndex(t(s, dir, "embeddings"), "vec_id",
        "embedding", nlist = 8)
      idx.assigned.persist()
      idx
    }

  /** Session-cached coarse quantizer for [[ops.Similarity.knnGraphSharded]]
    * (nlist = 16, 4 Lloyd rounds — the graph build's own defaults, distinct
    * from [[ivfIndexFor]]'s nlist = 8 search index): the k-means fit is the
    * build-once half; the graph assembly is what the query measures.
    */
  private def knnIvfIndexFor(s: SparkSession, dir: String): Similarity.IvfIndex =
    memo("knnIvfIndex", s, dir) {
      val idx = Similarity.buildIvfIndex(t(s, dir, "embeddings"), "vec_id",
        "embedding", nlist = 16, maxIter = 4)
      idx.assigned.persist()
      idx
    }

  /** Session-cached exact bitext mined set — the grading TRUTH of
    * q_bitext_mine_lsh (deterministic per slice): the exact |batch|×|corpus|
    * miner is harness cost, not the production path being measured.
    */
  private def bitextTruthFor(s: SparkSession, dir: String): DataFrame =
    memo("bitextTruth", s, dir) {
      val emb = t(s, dir, "embeddings")
      val l = emb.where(col("vec_id") % 2 === 0 && col("vec_id") < 2000)
      val r = emb.where(col("vec_id") % 2 === 1)
      val truth = Similarity.bitextMine(l, "vec_id", "embedding",
          r, "vec_id", "embedding", k = 4, threshold = 1.0)
        .where(col("mined") === 1)
        .select(col("left_id"), col("right_id"))
      // Materialize to a LOCAL relation: the mined set is bounded by
      // |batch|·k (≤ 8k rows of two longs), and a local relation carries
      // exact stats, so the recall join plans a clean broadcast instead
      // of guessing around an unmaterialized cache.
      val rows = truth.collect().toSeq
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), truth.schema)
    }

  /** Session-cached PQ codebook + encoded corpus (build-once/search-many,
    * same contract as [[ivfIndexFor]]): the quantizer fit and the one-time
    * encode are the reusable expensive half, ADC searches the cheap half.
    */
  private def pqIndexFor(s: SparkSession, dir: String)
      : (ops.ProductQuantizer.PqCodebook, DataFrame) =
    memo("pqIndex", s, dir) {
      val emb = t(s, dir, "embeddings")
      val cb = ops.ProductQuantizer.train(emb, "embedding", m = 8, ksub = 16)
      val codes = ops.ProductQuantizer.encode(emb, "vec_id", "embedding", cb)
      codes.persist()
      (cb, codes)
    }

  /** Session-cached APPENDED IVF index: quantizer fit on the vec_id ≥ 100
    * slice only, the < 100 slice appended via [[ops.Similarity.appendToIvf]]
    * (nearest-existing-cell routing, no refit) — q_ivf_append then proves
    * appended vectors are found by search at full recall.
    */
  private def ivfAppendedFor(s: SparkSession, dir: String)
      : ops.Similarity.IvfIndex =
    memo("ivfAppended", s, dir) {
      val emb = t(s, dir, "embeddings")
      val base = ops.Similarity.buildIvfIndex(
        emb.where(col("vec_id") >= 100), "vec_id", "embedding", nlist = 8)
      val appended = ops.Similarity.appendToIvf(base,
        emb.where(col("vec_id") < 100), "vec_id", "embedding")
      appended.assigned.persist()
      appended
    }

  /** Session-cached zone-map layout of lineitem sorted by l_orderkey
    * (build-once/scan-many — the ivfIndexFor contract): the sorted-run
    * write + manifest build happen once per (session, dir); every
    * execution measures the PRUNED SCAN.
    */
  private def zonemapFor(s: SparkSession, dir: String): DataFrame =
    memo("zonemap", s, dir) {
      val path = java.nio.file.Files
        .createTempDirectory("graft-zonemap").toString
      ops.Scale.writeWithManifest(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
        path, "l_orderkey", numFiles = 8).cache()
    }

  /** Session-cached negative-sampling vocabulary ladder (the sampler's
    * build-once artifact: one election, many draw passes).
    */
  private def negVocabFor(s: SparkSession, dir: String)
      : IndexedSeq[(String, Long)] =
    memo("negVocab", s, dir)(
      ops.LanguageModel.electVocab(t(s, dir, "documents"), "text", 50))

  /** Session-cached trigram posting index (build-once/search-many — the
    * substring-search tier's contract: production would persist it
    * gram-bucketed via [[ops.TextSearch.writeTrigramIndex]]; in-session
    * the persisted DataFrame plays that role so repeated queries pay
    * only the posting-list reads).
    */
  private def trigramIndexFor(s: SparkSession, dir: String): DataFrame =
    memo("trigramIndex", s, dir) {
      val idx = ops.TextSearch.buildTrigramIndex(
        t(s, dir, "documents"), "doc_id", "text")
      idx.persist()
      idx
    }

  /** Session-cached OPQ index: the deterministic full-dim PCA rotation
    * (eigenvalue allocation across subquantizer groups) + codebook +
    * codes over the ROTATED space, plus the rotated corpus for query-side
    * rotation and exact refine (rotation preserves cosine, so ground
    * truth is unchanged). Same build-once/search-many contract as
    * [[pqIndexFor]].
    */
  private def opqIndexFor(s: SparkSession, dir: String)
      : (ops.ProductQuantizer.PqCodebook, DataFrame, DataFrame) =
    memo("opqIndex", s, dir) {
      val emb = t(s, dir, "embeddings")
      val dim = emb.select(size(col("embedding"))).limit(1)
        .collect()(0).getInt(0)
      val basis = ops.Similarity.pcaFit(emb, "embedding", dim)
      val rot = ops.ProductQuantizer.opqRotate(emb, "vec_id", "embedding",
        basis, m = 8)
      rot.persist()
      val cb = ops.ProductQuantizer.train(rot, "embedding", m = 8, ksub = 16)
      val codes = ops.ProductQuantizer.encode(rot, "vec_id", "embedding", cb)
      codes.persist()
      (cb, codes, rot)
    }

  /** Session-cached IVF-PQ index (build-once/search-many, same contract as
    * [[pqIndexFor]]): coarse quantizer + residual codebook + encoded codes
    * are the expensive reusable half.
    */
  private def ivfPqIndexFor(s: SparkSession, dir: String)
      : ops.ProductQuantizer.IvfPqIndex =
    memo("ivfPqIndex", s, dir) {
      val emb = t(s, dir, "embeddings")
      val idx = ops.ProductQuantizer.buildIvfPq(emb, "vec_id", "embedding",
        nlist = 8, m = 8, ksub = 16)
      idx.codes.persist()
      idx
    }

  /** Growing-graph fixture: |V| = docs/50 (floor 10) with endpoints mixed
    * through the prime 1000003 BEFORE the mod-V fold, so |V| AND |E|
    * genuinely grow with the corpus (see the `_scaled` graph queries).
    * Two traps the naive `doc_id % V` construction hits: the sf1/sf10
    * replica offsets (multiples of 10⁹) are ≡ 0 mod every decimal V, so
    * replicas collapse onto the base corpus's edges; and any pair derived
    * from `m mod V` alone is a function of that one residue, capping
    * distinct edges at |V|. The mod-P wraparound decorrelates the two
    * endpoints, so distinct edges ≈ distinct doc residues (~0.9 × docs,
    * linear until the V² ceiling). All arithmetic stays < 2^25 · 2^25 —
    * exact in int64 and in DuckDB. `dense` adds the second edge family
    * (the q_kcore construction). The one count() is cheap on parquet.
    */
  private def scaledDomainEdges(s: SparkSession, dir: String,
      dense: Boolean): DataFrame = {
    val d = t(s, dir, "documents")
    val v = math.max(d.count() / 50, 10L)
    val P = 1000003L
    val m = col("doc_id") % P
    // Quadratic mix: a LINEAR map of m stays correlated with m mod V
    // until the mod-P wraparound (small ids never wrap → pairs collapse
    // to |V| distinct); m² mod P wraps for every m ≥ ~1000 and
    // equidistributes the endpoint. m² < 2^40, 17·m² < 2^45 — exact in
    // int64 and in DuckDB.
    val e1 = d.select((m % v).as("src"),
      (((m * m + 7) % P) % v).as("dst"))
    val e = if (dense)
      e1.unionByName(d.select((m % v).as("src"),
        (((m * m * 17 + 3) % P) % v).as("dst")))
    else e1
    e.where(col("src") =!= col("dst"))
  }

  /** Recall harness for approximate operators (the judge-able form of ANN /
    * near-dup correctness): ground truth is computed EXACTLY in the same job,
    * and the query emits (n of ground-truth rows, recall ≥ `minRecall`) so the
    * DuckDB oracle can independently recompute the ground-truth count and
    * assert the pass bit. `keys` are the identifying columns of a row in both
    * frames. The thresholds carry wide margins below the measured recall at
    * sf0.01 — they exist to catch operator regressions (a broken bucket join
    * scores recall ≈ chance), not to pin the exact value.
    */
  private def recallReport(truth: DataFrame, approx: DataFrame, keys: Seq[String],
      minRecall: Double, nName: String): DataFrame =
    truth.join(approx.select(keys.map(col): _*).withColumn("__hit", lit(1)),
        keys, "left")
      .agg(count(lit(1)).as(nName),
        (coalesce(sum(col("__hit")).cast("double") / count(lit(1)), lit(1.0))
          >= minRecall).cast("int").as("recall_pass"))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The logsearch
    * pipeline shape over the events table: partition-prunable time filter →
    * content predicate → rollup → ordered output.
    */
  def entry(spark: SparkSession): DataFrame = {
    eventsInRange(spark, "/root/testdata/sf0.001", 1704067200000L, 1704412800000L)
      .where(col("event_type").rlike("^(error|purchase)$"))
      .groupBy((col("ts_ms") / 3600000L).cast("long").as("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .presented("hour_bucket", "event_type")
  }

  /** One registered query: the Spark builder the driver times and dumps,
    * and the DuckDB SQL its oracle runs over the same testdata tables.
    */
  final case class QueryCase(name: String,
      build: (SparkSession, String) => DataFrame, oracle: String)

  /** The driver contract's two maps, derived from [[cases]] so that a
    * query cannot be registered without its oracle.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    cases.iterator.map(c => c.name -> c.build).toMap
  def oracleSql: Map[String, String] =
    cases.iterator.map(c => c.name -> c.oracle).toMap

  /** Every registered query, each followed by its oracle. A `def`, not a
    * `val`: the oracle SQL interpolates SQL-fragment vals declared further
    * down (`shipmentWindowsSql`, `tokensSql`, …), which an object `val`
    * here would read before their initialization, as null.
    */
  def cases: Seq[QueryCase] = Seq(
    // ----- reference query surface (SURVEY §2.3-2.6) -----

    // F1 logcat: time-range-only scan
    QueryCase("q_cat_timerange", ((s, dir) =>
      eventsInRange(s, dir, rangeStartMs, rangeEndMs)
        .select(col("event_id"), col("ts_ms"), col("event_type"), col("value"))
        .presented("event_id")),
      s"""SELECT event_id, epoch_ms(ts) AS ts_ms, event_type, value FROM events
         | WHERE epoch_ms(ts) >= $rangeStartMs AND epoch_ms(ts) < $rangeEndMs
         | ORDER BY event_id""".stripMargin),

    // F2 loggrep: regex find() on content
    QueryCase("q_grep_regex", ((s, dir) =>
      events(s, dir)
        .where(col("props").rlike("\"k\": 4[0-9]"))
        .select(col("event_id"), col("event_type"), col("props"))
        .presented("event_id")),
      """SELECT event_id, event_type, props FROM events
        | WHERE regexp_matches(props, '"k": 4[0-9]') ORDER BY event_id""".stripMargin),

    // F2 --i: case-insensitive regex
    QueryCase("q_grep_regex_ci", ((s, dir) =>
      events(s, dir)
        .where(col("event_type").rlike("(?i)^ERROR$"))
        .select(col("event_id"), col("event_type"))
        .presented("event_id")),
      """SELECT event_id, event_type FROM events
        | WHERE regexp_matches(event_type, '(?i)^ERROR$') ORDER BY event_id""".stripMargin),

    // F3 logsearch: literal substring
    QueryCase("q_search_contains", ((s, dir) =>
      t(s, dir, "documents")
        .where(col("text").contains("join"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .presented("doc_id")),
      """SELECT doc_id, lang, n_chars FROM documents
        | WHERE contains(text, 'join') ORDER BY doc_id""".stripMargin),

    // F4 logsearch --i: upper-contains-upper
    QueryCase("q_search_contains_ci", ((s, dir) =>
      t(s, dir, "documents")
        .where(upper(col("text")).contains("JOIN"))
        .select(col("doc_id"), col("lang"))
        .presented("doc_id")),
      """SELECT doc_id, lang FROM documents
        | WHERE contains(upper(text), 'JOIN') ORDER BY doc_id""".stripMargin),

    // F5 logmultisearch OR
    QueryCase("q_multisearch_or", ((s, dir) =>
      t(s, dir, "documents")
        .where(Seq("join", "window", "stream").map(col("text").contains(_): Column)
          .reduce(_ || _))
        .select(col("doc_id"))
        .presented("doc_id")),
      """SELECT doc_id FROM documents
        | WHERE contains(text, 'join') OR contains(text, 'window') OR contains(text, 'stream')
        | ORDER BY doc_id""".stripMargin),

    // F5 logmultisearch AND (--a)
    QueryCase("q_multisearch_and", ((s, dir) =>
      t(s, dir, "documents")
        .where(Seq("join", "filter").map(col("text").contains(_): Column)
          .reduce(_ && _))
        .select(col("doc_id"))
        .presented("doc_id")),
      """SELECT doc_id FROM documents
        | WHERE contains(text, 'join') AND contains(text, 'filter')
        | ORDER BY doc_id""".stripMargin),

    // O1 global sort (Pig ORDER BY analogue)
    QueryCase("q_sort_global", ((s, dir) =>
      eventsInRange(s, dir, rangeStartMs, rangeEndMs)
        .select(col("event_id"), col("value"))
        .presented(col("value").desc, col("event_id"))),
      s"""SELECT event_id, value FROM events
         | WHERE epoch_ms(ts) >= $rangeStartMs AND epoch_ms(ts) < $rangeEndMs
         | ORDER BY value DESC, event_id""".stripMargin),

    // P2 DateFormatter projection
    QueryCase("q_dateformat", ((s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          date_format(timestamp_micros(expr("ts DIV 1000")), "yyyy-MM-dd HH:mm:ss")
            .as("ts_str"))
        .presented("event_id")),
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str FROM events
        | ORDER BY event_id""".stripMargin),

    // A4 result count
    QueryCase("q_count_range", ((s, dir) =>
      eventsInRange(s, dir, rangeStartMs, rangeEndMs)
        .agg(count(lit(1)).as("n"))),
      s"""SELECT count(*) AS n FROM events
         | WHERE epoch_ms(ts) >= $rangeStartMs AND epoch_ms(ts) < $rangeEndMs""".stripMargin),

    // A1 IndexLogs-style rollup
    QueryCase("q_index_rollup", ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(min(col("ts_ms")).as("min_ts_ms"), max(col("ts_ms")).as("max_ts_ms"),
          count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .presented("event_type")),
      """SELECT event_type, min(epoch_ms(ts)) AS min_ts_ms, max(epoch_ms(ts)) AS max_ts_ms,
        |   count(*) AS n, round(sum(value), 2) AS sum_value
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // A3 LogStats ingest-over-time (hourly buckets)
    QueryCase("q_stats_hourly", ((s, dir) =>
      events(s, dir)
        .groupBy(expr("ts_ms DIV 3600000").as("hour_bucket"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .presented("hour_bucket")),
      """SELECT epoch_ms(ts) // 3600000 AS hour_bucket, count(*) AS n,
        |   round(sum(value), 2) AS sum_value
        | FROM events GROUP BY 1 ORDER BY hour_bucket""".stripMargin),

    // Multi-granularity OLAP rollup in ONE pass — (event_type, hour),
    // per-type subtotals, and the grand total via Spark's Expand
    // operator (each input row fans out once per grouping set BEFORE
    // partial aggregation, so the shuffle carries one pre-combined row
    // per set per key, not per event). grouping_id disambiguates levels;
    // presentation orders by it first, which also neutralizes the
    // engines' NULLS FIRST/LAST divergence (nulls are constant within a
    // level). sum rides the round-2dp convention; counts are exact.
    QueryCase("q_cube_stats", ((s, dir) =>
      Reporting.eventCube(events(s, dir))
        .presented("gid", "event_type", "hour_bucket")),
      """SELECT grouping(event_type, hour_bucket) AS gid, event_type,
        |   hour_bucket, count(*) AS n,
        |   count(DISTINCT user_id) AS n_users,
        |   round(sum(value), 2) AS sum_value
        | FROM (SELECT event_type, epoch_ms(ts) // 3600000 AS hour_bucket,
        |     user_id, value FROM events)
        | GROUP BY ROLLUP (event_type, hour_bucket)
        | ORDER BY gid, event_type, hour_bucket""".stripMargin),

    // A2 QueryIndex: regex-filtered rollup
    QueryCase("q_query_index", ((s, dir) =>
      events(s, dir)
        .where(col("event_type").rlike("^(err|sign)"))
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .presented("event_type", "user_id")),
      """SELECT event_type, user_id, count(*) AS n FROM events
        | WHERE regexp_matches(event_type, '^(err|sign)')
        | GROUP BY event_type, user_id ORDER BY event_type, user_id""".stripMargin),

    // TPC-H Q1 shape: wide aggregation
    QueryCase("q1_agg", ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .presented("l_returnflag", "l_linestatus")),
      """SELECT l_returnflag, l_linestatus,
        |   round(sum(l_quantity), 2) AS sum_qty,
        |   round(sum(l_extendedprice), 2) AS sum_base_price,
        |   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |   count(*) AS count_order
        | FROM lineitem
        | WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        | GROUP BY l_returnflag, l_linestatus
        | ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // Multi-way join with broadcast dims: revenue by nation
    QueryCase("q_join_revenue", ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"),
          count(lit(1)).as("n_lines"))
        .presented("n_name")
    }),
      """SELECT n_name,
        |   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |   count(*) AS n_lines
        | FROM lineitem
        |   JOIN orders ON l_orderkey = o_orderkey
        |   JOIN customer ON o_custkey = c_custkey
        |   JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY n_name ORDER BY n_name""".stripMargin),

    // Top-3 events per type by value. NOT a row_number window: event_type has
    // ~6 values, so a Window.partitionBy(event_type) funnels the whole corpus
    // into ~6 partitions at scale. The k-bounded TopKByScore aggregate ships
    // ≤ tasks × 3 rows per type and orders (score desc, id asc) — identical
    // output to the row_number formulation the DuckDB oracle runs.
    QueryCase("q_window_topk", ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(graft.functions.TopKByScore.topk_by_score(
          col("value"), col("event_id"), 3).as("__top"))
        .select(col("event_type"), posexplode(col("__top")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("event_id"), col("col.score").as("value"))
        .presented("event_type", "rank")),
      """SELECT event_type, rank, event_id, value FROM (
        |   SELECT event_type, event_id, value,
        |     row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rank
        |   FROM events)
        | WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin),

    // Sessionization (30-minute gap), lag window + aggregation
    // Dialogue assembly: scattered turn events regrouped into ordered
    // per-conversation transcripts (the chat-corpus prep regroup).
    // (ts, event_id) is a total order, so the oracle replays every
    // transcript byte-for-byte; maxTurns = 50 caps the buffer while
    // n_events audits the true conversation size.
    QueryCase("q_chat_assembly", ((s, dir) =>
      Curation.chatAssembly(events(s, dir), "user_id", "ts_ms",
          "event_id", "event_type", "props", maxTurns = 50)
        .presented("user_id")),
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
        |     event_type, props FROM events),
        | g AS (SELECT user_id, count(*) AS n_events,
        |     list_slice(list(event_type || ': ' || props
        |       ORDER BY ts_ms, event_id), 1, 50) AS turns
        |   FROM e GROUP BY user_id)
        | SELECT user_id, n_events, len(turns) AS n_turns,
        |   array_to_string(turns, chr(10)) AS transcript
        | FROM g ORDER BY user_id""".stripMargin),

    QueryCase("q_sessionize", ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
      events(s, dir)
        .withColumn("prev_ts", lag(col("ts_ms"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull || col("ts_ms") - col("prev_ts") > 1800000L, 1)
            .otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .presented("user_id")
    }),
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
        |   SELECT user_id,
        |     CASE WHEN prev_ts IS NULL OR ts_ms - prev_ts > 1800000 THEN 1 ELSE 0 END AS new_session
        |   FROM (
        |     SELECT user_id, epoch_ms(ts) AS ts_ms,
        |       lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ts
        |     FROM events))
        | GROUP BY user_id ORDER BY user_id""".stripMargin),

    // First-order Markov transitions over per-user event sequences
    // (ordered by (ts_ms, event_id) — total order, pure function of the
    // multiset); matrix is |types|²-bounded, probabilities exact ppm.
    QueryCase("q_event_transitions", ((s, dir) =>
      Reporting.eventTransitions(events(s, dir), "user_id", "ts_ms",
          "event_type", "event_id")
        .presented("from_event", "to_event")),
      """WITH sq AS (SELECT user_id, event_type AS et,
        |     lead(event_type) OVER (PARTITION BY user_id
        |       ORDER BY epoch_ms(ts), event_id) AS nxt
        |   FROM events),
        | p AS (SELECT et AS from_event, nxt AS to_event, count(*) AS n
        |   FROM sq WHERE nxt IS NOT NULL GROUP BY 1, 2),
        | t AS (SELECT from_event, sum(n) AS tot FROM p GROUP BY 1)
        | SELECT p.from_event, p.to_event, CAST(p.n AS BIGINT) AS n,
        |   CAST((p.n * 1000000) // t.tot AS BIGINT) AS p_ppm
        | FROM p JOIN t USING (from_event)
        | ORDER BY from_event, to_event""".stripMargin),

    // Stationary distribution of the session Markov chain: 4 exact
    // integer power steps over the |types|²-bounded transition matrix
    // (driver-side BigInt under the bounded contract) — where attention
    // settles long-run; dangling types shed mass, documented.
    QueryCase("q_markov_stationary", ((s, dir) =>
      Reporting.markovStationary(events(s, dir), "user_id", "ts_ms",
        "event_type", "event_id", iters = 4)),
      markovOracleSql(4)),

    // Per-column table profile (data-contract audit): ONE pass, all
    // per-column null/exact-distinct aggregates as parallel agg columns,
    // wide row exploded to one row per column. Nulls planted via
    // nullif(source,'src0') so the null path is exercised.
    QueryCase("q_table_profile", ((s, dir) =>
      Reporting.tableProfile(t(s, dir, "documents").select(
        col("doc_id"), nullif(col("source"), lit("src0")).as("source"),
        col("lang"), col("n_chars")))),
      {
      def one(c: String) =
        s"""SELECT '$c' AS "column",
           |   (SELECT count(*) FROM d)::BIGINT AS n_rows,
           |   (SELECT count(*) FROM d WHERE $c IS NULL)::BIGINT AS n_null,
           |   ((SELECT count(*) FROM d WHERE $c IS NULL) * 1000000
           |     // (SELECT count(*) FROM d))::BIGINT AS null_ppm,
           |   (SELECT count(DISTINCT $c) FROM d)::BIGINT AS n_distinct"""
          .stripMargin
      s"""WITH d AS (SELECT doc_id, nullif(source, 'src0') AS source,
         |     lang, n_chars FROM documents)
         |${Seq("doc_id", "source", "lang", "n_chars").map(one)
               .mkString("", "\nUNION ALL\n", "")}
         | ORDER BY "column"""".stripMargin
    }),

    // Top event trigram paths: the 2nd-order session-flow summary a
    // 1st-order transition matrix can't reconstruct; |types|³-bounded
    // counts, k-bounded TakeOrdered.
    QueryCase("q_event_paths", ((s, dir) =>
      Reporting.topEventPaths(events(s, dir), "user_id", "ts_ms",
        "event_type", "event_id", k = 20)),
      """WITH sq AS (SELECT event_type AS e1,
        |     lead(event_type, 1) OVER (PARTITION BY user_id
        |       ORDER BY epoch_ms(ts), event_id) AS e2,
        |     lead(event_type, 2) OVER (PARTITION BY user_id
        |       ORDER BY epoch_ms(ts), event_id) AS e3
        |   FROM events)
        | SELECT e1, e2, e3, count(*)::BIGINT AS n
        | FROM sq WHERE e3 IS NOT NULL GROUP BY 1, 2, 3
        | ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin),

    // As-of join: each error event matched to the user's most recent prior
    // signup (the operator Spark lacks; composed as union + running window —
    // see graft.ops.AsofJoin; DuckDB oracles it with native ASOF JOIN)
    QueryCase("q_asof_join", ((s, dir) => {
      val e = events(s, dir)
      val err = e.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("ts_ms"))
      val sgn = e.where(col("event_type") === "signup")
        .select(col("user_id"), col("event_id"), col("ts_ms"))
      graft.ops.AsofJoin.asofJoin(err, sgn, "ts_ms", "ts_ms", Seq("user_id"))
        .select(col("user_id"), col("event_id"),
          col("asof_event_id").as("signup_event_id"),
          (col("ts_ms") - col("asof_ts_ms")).as("ms_since_signup"))
        .presented("event_id")
    }),
      """WITH err AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events WHERE event_type = 'error'),
        |      sgn AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events WHERE event_type = 'signup')
        | SELECT err.user_id, err.event_id, sgn.event_id AS signup_event_id,
        |   err.ts_ms - sgn.ts_ms AS ms_since_signup
        | FROM err ASOF JOIN sgn ON err.user_id = sgn.user_id AND err.ts_ms >= sgn.ts_ms
        | ORDER BY err.event_id""".stripMargin),

    // ----- LLM-data-pipeline operators -----

    // Exact dedup via content hash (keep-first + copy counts)
    QueryCase("q_dedup_exact", ((s, dir) =>
      docsWithDupes(s, dir)
        .groupBy(md5(col("text").cast("binary")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .presented("content_hash")),
      // Null-text rows key by their own id (each is its own group, never a
      // "duplicate" of the other nulls) — the engine's contentKey policy;
      // this fixture has no null text, so the CASE arm never fires here.
      s"""SELECT CASE WHEN text IS NULL
         |     THEN '__null__' || CAST(doc_id AS VARCHAR)
         |     ELSE md5(text) END AS content_hash,
         |   min(doc_id) AS keep_id, count(*) AS n_copies
         | FROM $docsWithDupesSql GROUP BY 1 ORDER BY content_hash""".stripMargin),

    // Exact duplicate pairs (self-join on content hash)
    QueryCase("q_dupe_pairs_exact", ((s, dir) => {
      val d = docsWithDupes(s, dir)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      val a = d.select(col("h"), col("doc_id").as("id_a"))
      val b = d.select(col("h"), col("doc_id").as("id_b"))
      a.join(b, "h").where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
        .presented("id_a", "id_b")
    }),
      s"""WITH d AS (SELECT doc_id, md5(text) AS h FROM $docsWithDupesSql)
         | SELECT a.doc_id AS id_a, b.doc_id AS id_b
         | FROM d a JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id
         | ORDER BY id_a, id_b""".stripMargin),

    // Readability (Flesch + FK grade): three exact integer counts, scores
    // as one fixed double-expression shape over int64 ratios — IEEE
    // correctly-rounded ops on identical operands, so the oracle matches
    // bit-for-bit (the temperatureMix determinism argument).
    QueryCase("q_readability", ((s, dir) =>
      TextAnalysis.readabilityScores(t(s, dir, "documents"), "doc_id", "text")
        .presented("doc_id")),
      // Readability replayed: e0 literals force DOUBLE (not DECIMAL)
      // arithmetic so DuckDB evaluates the identical IEEE expression tree.
      """WITH c AS (SELECT doc_id,
        |     CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |       x -> x <> '')) AS BIGINT) AS n_words,
        |     CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS sr,
        |     CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |       AS BIGINT) AS n_syllables
        |   FROM documents)
        | SELECT doc_id, n_words,
        |   CASE WHEN n_words > 0 THEN greatest(sr, 1) ELSE 0 END
        |     AS n_sentences,
        |   n_syllables,
        |   CASE WHEN n_words > 0 THEN
        |     206.835e0 - 1.015e0 * (CAST(n_words AS DOUBLE) / greatest(sr, 1))
        |       - 84.6e0 * (CAST(n_syllables AS DOUBLE) / n_words) END
        |     AS flesch,
        |   CASE WHEN n_words > 0 THEN
        |     0.39e0 * (CAST(n_words AS DOUBLE) / greatest(sr, 1))
        |       + 11.8e0 * (CAST(n_syllables AS DOUBLE) / n_words)
        |       - 15.59e0 END
        |     AS fk_grade
        | FROM c ORDER BY doc_id""".stripMargin),

    // Trigram-index substring search (Cox codesearch design): AND the
    // pattern's posting lists → candidates, exact contains-verify →
    // matches. Both funnel stages are deterministic, so the oracle replays
    // candidates as an AND of contains(gram) literals and the verify bit.
    QueryCase("q_trigram_search", ((s, dir) =>
      TextSearch.trigramSearch(
        trigramIndexFor(s, dir),
        t(s, dir, "documents"), "doc_id", "text", "merge group")
        .presented("doc_id")),
      // The trigram funnel replayed: candidate = every pattern trigram
      // occurs somewhere in the doc; is_match = the pattern itself does.
      {
      val pat = "merge group"
      val cond = pat.sliding(3).toSeq.distinct
        .map(g => s"contains(text, '$g')").mkString(" AND ")
      s"""SELECT doc_id, CAST(contains(text, '$pat') AS INT) AS is_match
         | FROM documents
         | WHERE text IS NOT NULL AND length(text) >= 3 AND $cond
         | ORDER BY doc_id""".stripMargin
    }),

    // Edit-distance record linkage (PassJoin-style lossless segment index +
    // levenshtein verify) over the docs' 40-char title prefix. The blocking
    // is exact-recall by construction, so the all-pairs SQL is a true
    // oracle, not a proxy.
    QueryCase("q_edit_pairs", ((s, dir) =>
      Dedup.editDistancePairs(
        t(s, dir, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 40).as("title")),
        "doc_id", "title", maxDist = 2)
        .presented("id1", "id2")),
      // All-pairs replay of the PassJoin edit-distance linkage: the segment
      // index is lossless, so quadratic levenshtein with the |len| <= d
      // prefilter IS the operator's contract at test scale.
      """WITH r AS (SELECT doc_id, substr(text, 1, 40) AS s FROM documents
        |     WHERE text IS NOT NULL)
        | SELECT a.doc_id AS id1, b.doc_id AS id2,
        |   CAST(levenshtein(a.s, b.s) AS INT) AS dist
        | FROM r a JOIN r b ON a.doc_id < b.doc_id
        |   AND abs(len(a.s) - len(b.s)) <= 2
        | WHERE levenshtein(a.s, b.s) <= 2
        | ORDER BY id1, id2""".stripMargin),

    // Token counting
    QueryCase("q_token_count", ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens_raw"),
          size(filter(split(col("text"), " "), x => x =!= "")).cast("long").as("n_tokens"))
        .presented("doc_id")),
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens_raw,
        |   len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
        | FROM documents ORDER BY doc_id""".stripMargin),

    // Quality metrics (integer counts + exact-integer ratio)
    QueryCase("q_quality", ((s, dir) => {
      val toks = filter(split(col("text"), " "), x => x =!= "")
      t(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("len_chars"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_uniq"),
          (size(array_distinct(toks)).cast("double") / size(toks)).as("ttr"))
        .presented("doc_id")
    }),
      """SELECT doc_id, length(text) AS len_chars,
        |   len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
        |   len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS n_uniq,
        |   len(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')))::DOUBLE
        |     / len(list_filter(string_split(text, ' '), x -> x <> '')) AS ttr
        | FROM documents ORDER BY doc_id""".stripMargin),

    // Language stats: labeled language vs a content signal
    QueryCase("q_lang_stats", ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("text").contains("the"), 1).otherwise(0)).as("n_with_the"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
        .presented("lang")),
      """SELECT lang, count(*) AS n_docs,
        |   CAST(sum(CASE WHEN contains(text, 'the') THEN 1 ELSE 0 END) AS BIGINT) AS n_with_the,
        |   min(n_chars) AS min_chars, max(n_chars) AS max_chars
        | FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // Tokenizer fertility / compression audit per language: chars vs
    // whitespace tokens vs BPE-ish subwords, all exact integer sums —
    // what a tokenizer-QC pass reads before committing a vocab to a
    // multilingual corpus.
    QueryCase("q_fertility", ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), col("text"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("__tk"),
          TextAnalysis.subwordCountApprox(col("text")).cast("long").as("__sw"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("n_chars"),
          sum(col("__tk")).as("n_tokens"),
          sum(col("__sw")).as("n_subwords"))
        .presented("lang")),
      s"""SELECT lang, count(*) AS n_docs,
         |   CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |   CAST(sum(len($tokensSql)) AS BIGINT) AS n_tokens,
         |   CAST(sum(len(regexp_extract_all(text,
         |     '[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]+'))) AS BIGINT) AS n_subwords
         | FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // Exact-duplicate family-size histogram (dedup audit: how much of the
    // corpus sits in how-big copy families).
    QueryCase("q_dup_families", ((s, dir) =>
      docsWithDupes(s, dir)
        .groupBy(md5(col("text").cast("binary")).as("__h"))
        .agg(count(lit(1)).as("family_size"))
        .groupBy("family_size")
        .agg(count(lit(1)).as("n_families"))
        .presented("family_size")),
      s"""SELECT family_size, count(*) AS n_families FROM (
         |   SELECT md5(text) AS h, count(*) AS family_size
         |   FROM $docsWithDupesSql GROUP BY md5(text))
         | GROUP BY family_size ORDER BY family_size""".stripMargin),

    // Retention cohort triangle on the event stream (weekly buckets):
    // users cohort into their first active week; each (cohort, age) cell
    // counts the still-active users.
    QueryCase("q_cohorts", ((s, dir) =>
      Reporting.retentionCohorts(events(s, dir), "user_id", "ts_ms",
          bucketMs = 604800000L)
        .presented("cohort", "age")),
      """WITH act AS (SELECT DISTINCT user_id AS u,
        |     epoch_ms(ts) // 604800000 AS bucket FROM events),
        | coh AS (SELECT u, min(bucket) AS cohort FROM act GROUP BY u)
        | SELECT cohort, bucket - cohort AS age, count(*) AS n_active
        | FROM act JOIN coh USING (u)
        | GROUP BY cohort, bucket - cohort ORDER BY cohort, age""".stripMargin),

    // Ordered signup → click → purchase funnel within a 7-day window of
    // the signup: per-stage surviving-user counts via bounded chained
    // min-aggregations.
    QueryCase("q_funnel", ((s, dir) =>
      Reporting.funnel(events(s, dir), "user_id", "ts_ms", "event_type",
        Seq("signup", "click", "purchase"), windowMs = 604800000L)
        .presented("stage_idx")),
      """WITH e AS (SELECT user_id AS u, event_type AS et, epoch_ms(ts) AS tm
        |   FROM events),
        | s0 AS (SELECT u, min(tm) AS t0 FROM e WHERE et = 'signup' GROUP BY u),
        | s1 AS (SELECT e.u, t0, min(tm) AS t1 FROM e JOIN s0 USING (u)
        |   WHERE et = 'click' AND tm > t0 AND tm <= t0 + 604800000
        |   GROUP BY e.u, t0),
        | s2 AS (SELECT e.u, min(tm) AS t2 FROM e JOIN s1 USING (u)
        |   WHERE et = 'purchase' AND tm > t1 AND tm <= t0 + 604800000
        |   GROUP BY e.u)
        | SELECT * FROM (
        |   SELECT CAST(0 AS BIGINT) AS stage_idx, 'signup' AS stage,
        |     (SELECT count(*) FROM s0) AS n_users
        |   UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
        |   UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2))
        | ORDER BY stage_idx""".stripMargin),

    // Document fingerprinting (hash prefix bucket)
    QueryCase("q_fingerprint", ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          substring(md5(col("text").cast("binary")), 1, 8).as("fp"))
        .presented("doc_id")),
      """SELECT doc_id, substr(md5(text), 1, 8) AS fp FROM documents
        | ORDER BY doc_id""".stripMargin),

    // Language-ID heuristic (stopword-profile argmax); oracled via the same
    // tokenization + struct-max argmax in DuckDB SQL
    QueryCase("q_langid", ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          TextAnalysis.langId(col("text")).as("guessed_lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .presented("doc_id")),
      s"""WITH prof(g, c, w) AS (VALUES $ngramProfileValuesSql),
         | norm AS (SELECT doc_id, lang,
         |     '_' || regexp_replace(lower(text), '\\s+', '_', 'g') || '_'
         |       AS ns,
         |     CAST(len($tokensSql) AS BIGINT) AS n_tokens
         |   FROM documents),
         | grams AS (SELECT doc_id,
         |     unnest([substr(ns, i, 3) for i in range(1, len(ns) - 1)]) AS g
         |   FROM norm),
         | sc AS (SELECT doc_id, p.c AS lang, CAST(sum(p.w) AS BIGINT) AS s
         |   FROM grams JOIN prof p USING (g) GROUP BY 1, 2),
         | best AS (SELECT doc_id, list_sort(list({'s': s, 'c': lang}))[-1]
         |     AS b
         |   FROM sc GROUP BY doc_id)
         | SELECT n.doc_id, n.lang AS labeled_lang,
         |   coalesce(b.b.c, 'und') AS guessed_lang, n_tokens
         | FROM norm n LEFT JOIN best b USING (doc_id)
         | ORDER BY n.doc_id""".stripMargin),

    // Multinomial Naive Bayes text classifier (train + classify in one
    // query; self-demonstrating task: predict lang from text with lang as
    // the training label). Deterministic end to end: elected vocabulary,
    // add-one-smoothed round(1e6·ln) likelihoods over the dense
    // label×vocab cross, prior + occurrence-sum scores, max-struct argmax.
    // Oracle replays the full train+score chain in SQL.
    QueryCase("q_naive_bayes", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = LanguageModel.electVocab(docs, "text", 60).map(_._1)
      val model = NaiveBayes.train(docs, "lang", "text", vocab)
      NaiveBayes.classify(docs, "doc_id", "text", model)
        .join(docs.select(col("doc_id"), col("lang").as("labeled_lang")),
          "doc_id")
        .select("doc_id", "labeled_lang", "predicted", "score_ppm")
        .presented("doc_id")
    }),
      s"""WITH voc AS (SELECT tok FROM (SELECT t AS tok, count(*) AS c
         |     FROM (SELECT unnest($tokensSql) AS t FROM documents)
         |     GROUP BY t ORDER BY c DESC, t LIMIT 60)),
         | lab AS (SELECT lang AS label, count(*)::BIGINT AS nd
         |   FROM documents GROUP BY 1),
         | nn AS (SELECT count(*)::BIGINT AS n FROM documents),
         | occ AS (SELECT doc_id, lang, t AS tok FROM
         |     (SELECT doc_id, lang, unnest($tokensSql) AS t FROM documents)
         |   WHERE t IN (SELECT tok FROM voc)),
         | cnt AS (SELECT lang AS label, tok, count(*)::BIGINT AS c
         |   FROM occ GROUP BY 1, 2),
         | dense AS (SELECT l.label, v.tok, coalesce(c.c, 0) AS c
         |   FROM lab l CROSS JOIN voc v
         |   LEFT JOIN cnt c ON c.label = l.label AND c.tok = v.tok),
         | tot AS (SELECT label, sum(c)::BIGINT AS tc FROM dense GROUP BY 1),
         | vn AS (SELECT count(*)::BIGINT AS v FROM voc),
         | lik AS (SELECT d.label, d.tok,
         |     CAST(round(1e6 * ln((d.c + 1) /
         |       CAST(t.tc + (SELECT v FROM vn) AS DOUBLE))) AS BIGINT)
         |       AS lp
         |   FROM dense d JOIN tot t USING (label)),
         | pri AS (SELECT label, CAST(round(1e6 *
         |       ln(nd / CAST((SELECT n FROM nn) AS DOUBLE))) AS BIGINT)
         |     AS pp FROM lab),
         | ds AS (SELECT o.doc_id, k.label, sum(k.lp)::BIGINT AS s
         |   FROM occ o JOIN lik k ON k.tok = o.tok GROUP BY 1, 2),
         | sc AS (SELECT d.doc_id, p.label, p.pp + coalesce(ds.s, 0) AS s
         |   FROM documents d CROSS JOIN pri p
         |   LEFT JOIN ds ON ds.doc_id = d.doc_id AND ds.label = p.label),
         | best AS (SELECT doc_id, list_sort(list({'s': s, 'c': label}))[-1]
         |     AS b FROM sc GROUP BY doc_id)
         | SELECT d.doc_id, d.lang AS labeled_lang, b.b.c AS predicted,
         |   CAST(b.b.s AS BIGINT) AS score_ppm
         | FROM documents d JOIN best b USING (doc_id)
         | ORDER BY d.doc_id""".stripMargin),

    // One-pass Aho-Corasick dictionary tagging (taxonomy/badword/topic
    // tags incl. multi-word phrases and nested terms) — REAL oracle:
    // semantics are exactly per-term `contains`, which DuckDB replays with
    // list_filter over the same (pre-sorted) dictionary literal.
    QueryCase("q_keyword_tags", ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tagKeywords(col("text"), KeywordDict).as("__tags"))
        .select(col("doc_id"),
          concat_ws(",", col("__tags")).as("tags"),
          size(col("__tags")).cast("long").as("n_tags"))
        .presented("doc_id")),
      s"""SELECT doc_id,
         |   coalesce(array_to_string(list_filter($keywordDictSql, k -> contains(text, k)), ','), '') AS tags,
         |   len(list_filter($keywordDictSql, k -> contains(text, k))) AS n_tags
         | FROM documents ORDER BY doc_id""".stripMargin),

    // Inverted-index postings statistics: per-term df/tf + delta+varint
    // compressed size of the sorted posting list (the index-build budget
    // pass), top-50 terms by df. REAL oracle: DuckDB replays the lag-based
    // delta coding and the integer varint thresholds.
    QueryCase("q_postings", ((s, dir) =>
      TextSearch.postingsStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(desc("df"), col("term")).limit(50)),
      s"""WITH tk AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
         | td AS (SELECT term, doc_id AS id, count(*) AS tf
         |   FROM tk GROUP BY term, doc_id),
         | g AS (SELECT term, id, tf,
         |     id - coalesce(lag(id) OVER (PARTITION BY term ORDER BY id), -1) AS delta
         |   FROM td)
         | SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
         |   min(id) AS first_doc, max(id) AS last_doc,
         |   CAST(sum(1 ${(1 to 8).map(gr => s"+ (delta >= ${1L << (7 * gr)})::BIGINT").mkString(" ")}) AS BIGINT) AS varint_bytes,
         |   count(*) * 8 AS raw_bytes
         | FROM g GROUP BY term
         | ORDER BY df DESC, term LIMIT 50""".stripMargin),

    // Vocabulary growth / Heaps-law curve in 50-doc buckets — type counts
    // by first-occurrence election (one groupBy over the token→min-id
    // table; no per-checkpoint corpus rescans), running sums over the tiny
    // bucket table. REAL oracle: DuckDB replays the election and windows.
    QueryCase("q_vocab_growth", ((s, dir) =>
      TextAnalysis.vocabGrowth(t(s, dir, "documents"), "doc_id", "text",
          bucketSize = 50)
        .presented("bucket")),
      s"""WITH tk AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
         | fs AS (SELECT tok, min(doc_id) AS first_id FROM tk GROUP BY tok),
         | nt AS (SELECT first_id // 50 AS bucket, count(*) AS new_types
         |   FROM fs GROUP BY 1),
         | vol AS (SELECT doc_id // 50 AS bucket, count(*) AS n_docs,
         |     CAST(sum(len(t)) AS BIGINT) AS n_tokens
         |   FROM (SELECT doc_id, $tokensSql AS t FROM documents) GROUP BY 1)
         | SELECT v.bucket, n_docs, n_tokens,
         |   coalesce(new_types, 0) AS new_types,
         |   CAST(sum(n_tokens) OVER (ORDER BY v.bucket) AS BIGINT) AS cum_tokens,
         |   CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY v.bucket) AS BIGINT) AS cum_types
         | FROM vol v LEFT JOIN nt ON v.bucket = nt.bucket
         | ORDER BY v.bucket""".stripMargin),

    // Greedy longest-match (WordPiece/MaxMatch) subword encoding of every
    // distinct corpus word against a fixed piece vocabulary — the encode
    // half of subword tokenization next to the BPE trainer, with the
    // [UNK]-rate column a tokenizer-coverage audit reads. FULLY oracled:
    // the greedy rule is a pure function of (word, vocab), unrolled into
    // 24 per-step CTEs (longest prefixing piece = ORDER BY len DESC).
    QueryCase("q_wordpiece", ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .distinct()
        .select(col("word"),
          graft.functions.WordPieceFunctions.maxmatch_pieces(
            array(col("word")), WordPieceVocab).as("__p"))
        .select(col("word"), array_join(col("__p"), " ").as("pieces"),
          size(col("__p")).cast("long").as("n_pieces"),
          size(filter(col("__p"), p => p === "[UNK]")).cast("long")
            .as("n_unk"))
        .presented("word")),
      wordPieceOracleSql(24)),

    // Sentence-level language mix (code-switching profile): per-sentence
    // langId votes, dominant language by (count desc, tag asc), is_mixed
    // bit. FULLY oracled — the oracle replays the sentence regexp, the
    // per-sentence stopword vote, and the argmax window.
    QueryCase("q_sentence_langmix", ((s, dir) =>
      TextAnalysis.sentenceLangMix(t(s, dir, "documents"), "doc_id", "text")
        .presented("doc_id")),
      s"""WITH prof(g, c, w) AS (VALUES $ngramProfileValuesSql),
         | sen AS (SELECT doc_id, row_number() OVER () AS sid, trim(x) AS s
         |   FROM (SELECT doc_id, unnest(regexp_extract_all(text,
         |        '[^.!?]+[.!?]*')) AS x FROM documents)
         |   WHERE trim(x) <> ''),
         | norm AS (SELECT doc_id, sid,
         |     '_' || regexp_replace(lower(s), '\\s+', '_', 'g') || '_' AS ns
         |   FROM sen),
         | grams AS (SELECT doc_id, sid,
         |     unnest([substr(ns, i, 3) for i in range(1, len(ns) - 1)]) AS g
         |   FROM norm),
         | scs AS (SELECT doc_id, sid, p.c AS lang,
         |     CAST(sum(p.w) AS BIGINT) AS s
         |   FROM grams JOIN prof p USING (g) GROUP BY 1, 2, 3),
         | bests AS (SELECT doc_id, sid,
         |     list_sort(list({'s': s, 'c': lang}))[-1] AS b
         |   FROM scs GROUP BY doc_id, sid),
         | lg AS (SELECT n.doc_id, coalesce(b.b.c, 'und') AS sl
         |   FROM norm n LEFT JOIN bests b USING (doc_id, sid)),
         | c AS (SELECT doc_id, sl, count(*) AS c FROM lg GROUP BY doc_id, sl),
         | top AS (SELECT doc_id, sl AS dominant_lang, c AS n_dominant FROM
         |     (SELECT doc_id, sl, c, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY c DESC, sl) AS rn FROM c)
         |   WHERE rn = 1),
         | tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_sentences
         |   FROM c GROUP BY doc_id)
         | SELECT t.doc_id, n_sentences, dominant_lang,
         |   CAST(n_dominant AS BIGINT) AS n_dominant,
         |   (n_dominant < n_sentences)::INT AS is_mixed
         | FROM tot t JOIN top USING (doc_id) ORDER BY t.doc_id""".stripMargin),

    // Quality score + subword count (both SQL-expressible; the custom-hash
    // fingerprint is covered by q_fingerprint's md5 oracle + unit invariants)
    QueryCase("q_text_analysis", ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.subwordCountApprox(col("text")).cast("long").as("n_subwords"))
        .presented("doc_id")),
      s"""SELECT doc_id,
         |   least(1.0,
         |     n_alpha::DOUBLE / greatest(n_chars, 1) * 0.5
         |     + len(list_distinct(t))::DOUBLE / greatest(len(t), 1) * 0.3
         |     + CASE WHEN len(list_intersect(t, $enStopSql)) > 0
         |            THEN 0.2 ELSE 0.0 END) AS quality,
         |   len(regexp_extract_all(text, '[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]+'))
         |     AS n_subwords
         | FROM (SELECT doc_id, text, length(text) AS n_chars, $tokensSql AS t,
         |     length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS n_alpha
         |   FROM documents)
         | ORDER BY doc_id""".stripMargin),

    // Snapshot diff vs a synthesized v2 corpus (pure function of doc_id:
    // %13 removed, %17 text-modified, %11 re-added under offset ids) —
    // only (id, md5) ever moves. FULLY oracled.
    QueryCase("q_corpus_diff", ((s, dir) => {
      val v1 = t(s, dir, "documents")
      val v2 = v1.where(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(v1.where(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Curation.corpusDiff(v1, v2, "doc_id", "text")
        .presented("doc_id")
    }),
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        | v2 AS (SELECT doc_id,
        |     CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END
        |       AS text
        |   FROM documents WHERE doc_id % 13 <> 0
        |   UNION ALL
        |   SELECT doc_id + 100000, text FROM documents WHERE doc_id % 11 = 0),
        | h1 AS (SELECT doc_id, md5(text) AS h FROM v1),
        | h2 AS (SELECT doc_id, md5(text) AS h FROM v2)
        | SELECT coalesce(h1.doc_id, h2.doc_id) AS doc_id,
        |   CASE WHEN h1.h IS NULL THEN 'added'
        |        WHEN h2.h IS NULL THEN 'removed'
        |        WHEN h1.h = h2.h THEN 'unchanged'
        |        ELSE 'modified' END AS status
        | FROM h1 FULL OUTER JOIN h2 ON h1.doc_id = h2.doc_id
        | ORDER BY doc_id""".stripMargin),

    // Exact-n-per-stratum sample (30 per language): k-bounded top-k on
    // the md5 draw instead of a stratum-collapsing row_number window.
    // FULLY oracled — the draw ordering replays as (md5-prefix, id).
    QueryCase("q_stratified_sample", ((s, dir) =>
      Curation.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
          nPerStratum = 30)
        .presented("stratum", "rank")),
      """SELECT lang AS stratum, doc_id, CAST(rank AS INT) AS rank FROM (
        |   SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |       ORDER BY substr(md5(doc_id::VARCHAR || '-graft'), 1, 12),
        |         doc_id) AS rank
        |   FROM documents)
        | WHERE rank <= 30 ORDER BY stratum, rank""".stripMargin),

    // Quality-paced admission: integer-histogram decile tiers (no global
    // sort — bounded agg + driver cumulative scan) with linearly ramped
    // per-tier keep rates. FULLY oracled: quantized score, exact-integer
    // boundary election, and the hex-threshold draw all replay in SQL.
    QueryCase("q_quality_mix", ((s, dir) =>
      Curation.qualityPacedMix(t(s, dir, "documents"), "doc_id",
          TextAnalysis.qualityScore(col("text")))
        .presented("doc_id")),
      // Quality pacing replayed: the q_text_analysis score tree quantized,
      // histogram + exact-integer ceilings for tier boundaries, correlated
      // count for the tier, q_mix's md5 draw vs the rate ladder.
      {
      val draw = "substr(md5(doc_id::VARCHAR || '-graft'), 1, 8)"
      val rates = (0 until 10)
        .map(b => "'" + Curation.hexThreshold((b + 1) / 10.0) + "'")
        .mkString(", ")
      s"""WITH sc AS (SELECT doc_id,
         |     CAST(floor(least(1.0,
         |       n_alpha::DOUBLE / greatest(n_chars, 1) * 0.5
         |       + len(list_distinct(t))::DOUBLE / greatest(len(t), 1) * 0.3
         |       + CASE WHEN len(list_intersect(t, $enStopSql)) > 0
         |              THEN 0.2 ELSE 0.0 END) * 10000) AS INT) AS q
         |   FROM (SELECT doc_id, length(text) AS n_chars, $tokensSql AS t,
         |       length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS n_alpha
         |     FROM documents)),
         | h AS (SELECT q, count(*) AS c FROM sc GROUP BY q),
         | cum AS (SELECT q, sum(c) OVER (ORDER BY q) AS cc FROM h),
         | n AS (SELECT count(*) AS nn FROM sc),
         | th AS (SELECT i.i AS i,
         |     (SELECT min(q) FROM cum
         |      WHERE cc >= (i.i * (SELECT nn FROM n) + 9) // 10) AS t
         |   FROM range(1, 10) i(i)),
         | d AS (SELECT sc.doc_id, sc.q,
         |     CAST((SELECT count(*) FROM th WHERE sc.q >= th.t) AS INT)
         |       AS bucket
         |   FROM sc)
         | SELECT doc_id, q, bucket, $draw AS draw,
         |   ($draw < ([$rates])[bucket + 1])::INT AS keep
         | FROM d ORDER BY doc_id""".stripMargin
    }),

    // MinHash+LSH near-dup pairs under the PORTABLE cross-engine hash
    // policy (one md5 per shingle → two 26-bit halves → 64 linear position
    // hashes mod 2^31−1; coefficients from the shared deterministic stream
    // in Dedup.portableMinhashCoeffs) — REAL oracle: DuckDB replays the
    // entire signature → banding (bucket keys are raw slice content) →
    // bucket-cap → pair → est_jaccard chain bit-exactly. The XXH64-fused
    // default policy stays the production hot path (its wrapping mod-2^64
    // mixes are inexpressible in DuckDB) and is graded by q_minhash_recall
    // below — an ORACLED harness whose ground truth (exact n-gram
    // Jaccard >= 0.8) DuckDB recomputes from raw text — plus DedupSpec's
    // deterministic-signature and threshold tests.
    QueryCase("q_minhash_dupes", ((s, dir) =>
      Dedup.minhashDupePairsPortable(docsWithDupes(s, dir), "doc_id", "text",
        shingleK = 3, numHashes = 64, bands = 16, threshold = 0.7)
        .select(col("id_a"), col("id_b"),
          round(col("est_jaccard"), 4).as("est_jaccard"))
        .presented("id_a", "id_b")),
      // Full replay of the portable-policy minhash chain (see
      // Dedup.minhashDupePairsPortable): shingles → one md5-prefix hash each →
      // 64 unrolled linear position hashes (coefficients from the SAME
      // deterministic generator the operator uses) → per-band slice-content
      // bucket keys → bucket-capped pairs → matching-position estimate.
      s"""WITH gs AS (SELECT doc_id, $shingleListSql AS g
         |   FROM (SELECT doc_id, $tokensSql AS t FROM $docsWithDupesSql)),
         | hs AS (SELECT doc_id,
         |     list_transform(g, x -> ('0x' || substr(md5(x), 1, 13))::BIGINT) AS h
         |   FROM gs),
         | sigs AS (SELECT doc_id, $minhashSigSql AS sig FROM hs),
         | banded AS (SELECT doc_id, bb.b AS band,
         |     array_to_string(sig[bb.b*4+1:bb.b*4+4], ',') AS key
         |   FROM sigs, range(0, 16) bb(b)),
         | buckets AS (SELECT band, key, count(*) AS n FROM banded GROUP BY 1, 2),
         | cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         |   FROM banded a
         |   JOIN banded b2 ON a.band = b2.band AND a.key = b2.key
         |     AND a.doc_id < b2.doc_id
         |   JOIN buckets bu ON bu.band = a.band AND bu.key = a.key
         |   WHERE bu.n <= ${graft.ops.Dedup.DefaultMaxBucketSize})
         | SELECT id_a, id_b, round(est, 4) AS est_jaccard FROM (
         |   SELECT id_a, id_b,
         |     len(list_filter(range(1, 65), i -> sa.sig[i] = sb.sig[i])) / 64.0 AS est
         |   FROM cand
         |   JOIN sigs sa ON sa.doc_id = cand.id_a
         |   JOIN sigs sb ON sb.doc_id = cand.id_b)
         | WHERE est >= 0.7 ORDER BY id_a, id_b""".stripMargin),

    // MinHash recall harness: ground truth = exact n-gram Jaccard >= 0.8
    // (exhaustive-recall banding), computed in-job; DuckDB independently
    // recomputes the ground-truth pair count from raw text and asserts the
    // recall bit. Measured recall at sf0.01 is ~1.0; 0.8 guards regressions
    // (est_jaccard >= 0.7 keeps a true j=0.8 pair with p ≈ 0.98 per pair).
    QueryCase("q_minhash_recall", ((s, dir) => {
      val dd = docsWithDupes(s, dir)
      recallReport(
        Dedup.ngramJaccardPairs(dd, "doc_id", "text", shingleK = 3, threshold = 0.8)
          .select(col("id_a"), col("id_b")),
        Dedup.minhashDupePairs(dd, "doc_id", "text", threshold = 0.7),
        Seq("id_a", "id_b"), minRecall = 0.8, nName = "n_true_pairs")
    }),
      s"""WITH sh AS (SELECT doc_id, $shingleSetSql AS s
         |   FROM (SELECT doc_id, $tokensSql AS t FROM $docsWithDupesSql))
         | SELECT count(*) AS n_true_pairs, 1 AS recall_pass
         | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |   AND 5 * len(a.s) >= 4 * len(b.s) AND 5 * len(b.s) >= 4 * len(a.s)
         | WHERE len(list_intersect(a.s, b.s))::DOUBLE
         |     / len(list_distinct(list_concat(a.s, b.s))) >= 0.8""".stripMargin),

    // SimHash exact-duplicate coverage: every identical-text pair (DuckDB
    // recomputes the set via md5 self-join) must surface as a simhash
    // near-dup pair — identical tokens give identical signatures, so a miss
    // means the blocking/bucketing is broken. (Raw pair output stays
    // available via Dedup.simhashDupePairs; its hamming values are custom-
    // hash-specific and graded by DedupSpec.)
    QueryCase("q_simhash_dupes", ((s, dir) => {
      val dd = docsWithDupes(s, dir)
      val d = dd.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      val exactPairs = d.as("a")
        .join(d.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      exactPairs
        .join(Dedup.simhashDupePairs(dd, "doc_id", "text", maxHamming = 3)
          .select(col("id_a"), col("id_b"), lit(1).as("__hit")),
          Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_exact_pairs"),
          sum(coalesce(col("__hit"), lit(0))).as("n_found_by_simhash"))
    }),
      s"""WITH d AS (SELECT doc_id, md5(text) AS h FROM $docsWithDupesSql)
         | SELECT count(*) AS n_exact_pairs, count(*) AS n_found_by_simhash
         | FROM d a JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id""".stripMargin),

    // Incremental dedup: a 20-doc "new crawl batch" (planted copies of
    // docs 0-19) deduped against the PERSISTED corpus band index — the
    // corpus is banded once per session (bucketed tables; batch joins
    // reach it shuffle-free) and never rescanned per batch. REAL oracle:
    // DuckDB recomputes new×old shingle-set Jaccard from raw text
    // (hash-set ≡ string-set Jaccard, the q_ngram_jaccard argument; 32×2
    // banding is exhaustive at the 0.8 threshold).
    QueryCase("q_incremental_dedup", ((s, dir) => {
      val idx = bandIndexFor(s, dir)
      val batch = t(s, dir, "documents").where(col("doc_id") < 20)
        .withColumn("doc_id", col("doc_id") + 2000000L)
      Dedup.dedupAgainstIndex(batch, "doc_id", "text", idx, threshold = 0.8)
        .select(col("new_id"), col("old_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .presented("new_id", "old_id")
    }),
      s"""WITH sh AS (SELECT doc_id, $shingleSetSql AS s
         |   FROM (SELECT doc_id, $tokensSql AS t FROM documents)),
         | nb AS (SELECT doc_id + 2000000 AS new_id, s FROM sh WHERE doc_id < 20)
         | SELECT new_id, old_id, round(jac, 4) AS jaccard FROM (
         |   SELECT nb.new_id, o.doc_id AS old_id,
         |     len(list_intersect(nb.s, o.s))::DOUBLE
         |       / len(list_distinct(list_concat(nb.s, o.s))) AS jac
         |   FROM nb, sh o)
         | WHERE jac >= 0.8 ORDER BY new_id, old_id""".stripMargin),

    // Exact n-gram Jaccard pairs — REAL oracle: DuckDB rebuilds the shingle
    // sets from raw text (same tokenizer, same k) and computes |∩|/|∪| over
    // all length-compatible pairs; the engine's banded blocking is
    // effectively exhaustive at j >= 0.8 (P(miss) ≈ 6e-15), so the outputs
    // must match exactly.
    QueryCase("q_ngram_jaccard", ((s, dir) =>
      Dedup.ngramJaccardPairs(docsWithDupes(s, dir), "doc_id", "text",
        shingleK = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .presented("id_a", "id_b")),
      s"""WITH sh AS (SELECT doc_id, $shingleSetSql AS s
         |   FROM (SELECT doc_id, $tokensSql AS t FROM $docsWithDupesSql))
         | SELECT id_a, id_b, round(jac, 4) AS jaccard FROM (
         |   SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |     len(list_intersect(a.s, b.s))::DOUBLE
         |       / len(list_distinct(list_concat(a.s, b.s))) AS jac
         |   FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |     AND 5 * len(a.s) >= 4 * len(b.s) AND 5 * len(b.s) >= 4 * len(a.s))
         | WHERE jac >= 0.8 ORDER BY id_a, id_b""".stripMargin),

    // EXACT containment join: |∩|/min ≥ 0.8 pairs via the containment
    // form of prefix filtering (smaller side's prefix vs the full index)
    // — the deterministic complement to q_containment's winnowing blocks.
    // Oracle is the plain all-pairs |∩|/min replay, so the registered
    // entry runs UNCAPPED (maxTokenDf = 0): the contract the oracle
    // verifies is the exact one, never a silently-capped approximation.
    QueryCase("q_prefix_containment", ((s, dir) =>
      Dedup.prefixContainmentPairs(docsWithDupes(s, dir), "doc_id", "text",
        shingleK = 3, threshold = 0.8, maxTokenDf = 0)
        .presented("id_a", "id_b")),
      s"""WITH sh AS (SELECT doc_id, $shingleSetSql AS s
         |   FROM (SELECT doc_id, $tokensSql AS t FROM $docsWithDupesSql))
         | SELECT id_a, id_b, inter, n_small,
         |   (inter * 1000000) // n_small AS containment_ppm
         | FROM (
         |   SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |     CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
         |     CAST(least(len(a.s), len(b.s)) AS BIGINT) AS n_small
         |   FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         | WHERE inter * 1000000 >= 800000 * n_small
         | ORDER BY id_a, id_b""".stripMargin),

    // Cross-document duplicated-shingle fraction per doc (the FineWeb
    // dedup-health diagnostic): share of each doc's distinct shingles
    // occurring in >= 2 documents. Exact oracle over shingle strings.
    QueryCase("q_dup_gram_fraction", ((s, dir) =>
      Dedup.dupGramFraction(docsWithDupes(s, dir), "doc_id", "text",
        shingleK = 3, minDf = 2L)
        .presented("doc_id")),
      s"""WITH sh AS (SELECT doc_id, $shingleSetSql AS s
         |   FROM (SELECT doc_id, $tokensSql AS t FROM $docsWithDupesSql)),
         | tok AS (SELECT doc_id, unnest(s) AS g FROM sh),
         | dfr AS (SELECT g, count(*)::BIGINT AS df FROM tok GROUP BY 1)
         | SELECT doc_id, count(*)::BIGINT AS n_grams,
         |   sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT
         |     AS n_dup_grams,
         |   CAST((sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1000000)
         |     // count(*) AS BIGINT) AS dup_frac_ppm
         | FROM tok JOIN dfr USING (g) GROUP BY doc_id
         | ORDER BY doc_id""".stripMargin),

    // Pre-flight maxTokenDf telemetry for the containment join: the
    // boilerplate-token census (count + total df mass over the cap) a
    // 100 TB operator reads before paying for the join. Cap = 25 so the
    // cap BINDS on this fixture (common shingles clear it) — the oracled
    // columns are the engine-independent df census; the candidate count
    // (hash-order-dependent) stays API-only for SCALING evidence.
    QueryCase("q_containment_cap_audit", ((s, dir) =>
      Dedup.prefixContainmentAudit(docsWithDupes(s, dir), "doc_id", "text",
        shingleK = 3, threshold = 0.8, maxTokenDf = 25)
        .select("n_docs", "n_tokens", "n_hot_tokens", "hot_df_mass")),
      s"""WITH sh AS (SELECT doc_id, $shingleSetSql AS s
         |   FROM (SELECT doc_id, $tokensSql AS t FROM $docsWithDupesSql)),
         | tok AS (SELECT doc_id, unnest(s) AS g FROM sh),
         | dfreq AS (SELECT g, count(*)::BIGINT AS df FROM tok GROUP BY 1)
         | SELECT (SELECT count(*) FROM sh)::BIGINT AS n_docs,
         |   (SELECT count(*) FROM dfreq)::BIGINT AS n_tokens,
         |   (SELECT count(*) FROM dfreq WHERE df > 25)::BIGINT
         |     AS n_hot_tokens,
         |   (SELECT coalesce(sum(df), 0) FROM dfreq WHERE df > 25)::BIGINT
         |     AS hot_df_mass""".stripMargin),

    // EXACT prefix-filtered similarity join (PPJoin) — recall 1.0 by
    // construction, so the oracle is the plain all-pairs replay: DuckDB
    // rebuilds the string shingle sets and computes the same integer
    // |∩| / |∪| / ppm algebra over every pair. No banding probability
    // argument needed, unlike q_ngram_jaccard's e-15 miss bound. Runs
    // UNCAPPED (maxBucketSize = 0) so the recall-1.0 contract the oracle
    // checks is the one actually executed — the default cap is a skew
    // guardrail for corpus-scale callers, not part of the exact contract.
    QueryCase("q_prefix_jaccard", ((s, dir) =>
      Dedup.prefixJaccardPairs(docsWithDupes(s, dir), "doc_id", "text",
        shingleK = 3, threshold = 0.8, maxBucketSize = 0)
        .presented("id_a", "id_b")),
      s"""WITH sh AS (SELECT doc_id, $shingleSetSql AS s
         |   FROM (SELECT doc_id, $tokensSql AS t FROM $docsWithDupesSql))
         | SELECT id_a, id_b, inter, un, (inter * 1000000) // un AS jaccard_ppm
         | FROM (
         |   SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |     CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
         |     CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
         |       AS BIGINT) AS un
         |   FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |     AND 5 * len(a.s) >= 4 * len(b.s) AND 5 * len(b.s) >= 4 * len(a.s))
         | WHERE inter * 1000000 >= 800000 * un ORDER BY id_a, id_b""".stripMargin),

    // Dedup threshold sensitivity curve: ONE banded pair table at τ = 0.7
    // (banding miss ≈ 4e-10 there) swept by six candidate thresholds —
    // pairs surviving and documents involved per cutoff, the curve a
    // curation owner reads before committing a dedup threshold.
    QueryCase("q_dup_threshold_curve", ((s, dir) => {
      import s.implicits._
      val pairs = Dedup.ngramJaccardPairs(docsWithDupes(s, dir), "doc_id",
        "text", shingleK = 3, threshold = 0.7)
      val ths = Seq(700000L, 750000L, 800000L, 850000L, 900000L, 950000L)
        .toDF("threshold_ppm")
      pairs.crossJoin(broadcast(ths))
        .where(col("jaccard") * 1e6 >= col("threshold_ppm"))
        .select(col("threshold_ppm"),
          explode(array(col("id_a"), col("id_b"))).as("d"))
        .groupBy("threshold_ppm")
        .agg(expr("count(1) DIV 2").as("n_pairs"),
          countDistinct(col("d")).as("n_docs"))
        .presented("threshold_ppm")
    }),
      s"""WITH sh AS (SELECT doc_id, $shingleSetSql AS s
         |   FROM (SELECT doc_id, $tokensSql AS t FROM $docsWithDupesSql)),
         | p AS (SELECT id_a, id_b, jac FROM (
         |     SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       len(list_intersect(a.s, b.s))::DOUBLE
         |         / len(list_distinct(list_concat(a.s, b.s))) AS jac
         |     FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |       AND 10 * len(a.s) >= 7 * len(b.s)
         |       AND 10 * len(b.s) >= 7 * len(a.s))
         |   WHERE jac >= 0.7),
         | tg AS (SELECT unnest([700000, 750000, 800000, 850000,
         |     900000, 950000]) AS threshold_ppm),
         | f AS (SELECT tg.threshold_ppm, p.id_a, p.id_b
         |   FROM p, tg WHERE p.jac * 1000000 >= tg.threshold_ppm),
         | e AS (SELECT threshold_ppm, unnest([id_a, id_b]) AS d FROM f)
         | SELECT CAST(threshold_ppm AS BIGINT) AS threshold_ppm,
         |   (count(*) // 2)::BIGINT AS n_pairs,
         |   count(DISTINCT d)::BIGINT AS n_docs
         | FROM e GROUP BY 1 ORDER BY 1""".stripMargin),

    // Zone-map file skipping: lineitem written as 8 sorted runs with a
    // per-file (min,max) manifest (session-cached build — the index
    // contract); a 1/10th-keyspace range scan consults the manifest and
    // opens only intersecting files. Row data exactly oracled; the
    // pruning audit is the `pruned` bit (physical file boundaries depend
    // on range-sampler internals, so the COUNT of files isn't part of
    // the cross-engine contract — the zorderStats precedent).
    QueryCase("q_zonemap_prune", ((s, dir) => {
      val (rows, total, scanned) = ops.Scale.zoneMapScan(
        zonemapFor(s, dir), "l_orderkey", 4000L, 5499L)
      // nonempty_scan is derived from the ROW count, not the file count:
      // zone maps admit no false negatives, so "the pruned scan still
      // found the range's rows" ⟺ n_rows ≥ 1 — a definition every engine
      // can replay at every SF. The previous `scanned >= 1` literal was
      // layout-dependent: on a fixture whose keys never reach the probe
      // range (sf0.001 after the r16 data regen tops out at 1499 < 4000)
      // the engine honestly prunes ALL files while the oracle's hardcoded
      // 1 assumed a populated range — an inherited red row, not an
      // optimization change. Values are identical wherever the range is
      // populated (every SF the row was previously green on).
      rows.agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
        .select(col("n_rows"), col("sum_qty"),
          lit(if (scanned < total) 1 else 0).as("pruned"),
          when(col("n_rows") >= 1, 1).otherwise(0).as("nonempty_scan"))
    }),
      """SELECT count(*) AS n_rows,
        |   CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |   1 AS pruned,
        |   CASE WHEN count(*) >= 1 THEN 1 ELSE 0 END AS nonempty_scan
        | FROM lineitem WHERE l_orderkey BETWEEN 4000 AND 5499""".stripMargin),

    // Fellegi–Sunter probabilistic record linkage over nation-blocked
    // customer pairs: originals vs id-arithmetic dirty replicas
    // (segment replaced / balance shifted / exact copy), integer
    // log-likelihood weights, match ≥ 40 / possible ≥ 10. Cross pairs
    // bottom out at score 8 < lower, so output = planted pairs exactly
    // — fully oracled including verdicts.
    QueryCase("q_record_linkage", ((s, dir) => {
      val c = t(s, dir, "customer")
      def withBal(df: DataFrame) =
        df.withColumn("bal_floor", floor(col("c_acctbal")).cast("long"))
      val dirty = c.select(
        (col("c_custkey") + 1000000L).as("c_custkey"),
        col("c_name"), col("c_nationkey"),
        when(col("c_custkey") % 3 === 0, col("c_acctbal") + 1000.5)
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        when(col("c_custkey") % 3 === 1, lit("UNKNOWN"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      Dedup.recordLinkage(
        withBal(c), "c_custkey", withBal(dirty), "c_custkey",
        blockCol = "c_nationkey",
        fields = Seq(Dedup.LinkField("c_name", 24, -12),
          Dedup.LinkField("c_mktsegment", 6, -3),
          Dedup.LinkField("bal_floor", 14, -7)),
        upper = 40L, lower = 10L)
        .presented("id_a", "id_b")
    }),
      """WITH base AS (SELECT c_custkey AS id, c_name, c_nationkey,
        |     c_mktsegment, CAST(floor(c_acctbal) AS BIGINT) AS bal
        |   FROM customer),
        | dirty AS (SELECT c_custkey + 1000000 AS id, c_name, c_nationkey,
        |     CASE WHEN c_custkey % 3 = 1 THEN 'UNKNOWN'
        |          ELSE c_mktsegment END AS c_mktsegment,
        |     CAST(floor(CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1000.5
        |          ELSE c_acctbal END) AS BIGINT) AS bal
        |   FROM customer),
        | p AS (SELECT a.id AS id_a, b.id AS id_b,
        |     (CASE WHEN a.c_name = b.c_name THEN 24 ELSE -12 END +
        |      CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 6
        |           ELSE -3 END +
        |      CASE WHEN a.bal = b.bal THEN 14 ELSE -7 END) AS score,
        |     ((a.c_name = b.c_name)::INT +
        |      (a.c_mktsegment = b.c_mktsegment)::INT +
        |      (a.bal = b.bal)::INT) AS n_agree
        |   FROM base a JOIN dirty b ON a.c_nationkey = b.c_nationkey)
        | SELECT id_a, id_b, CAST(score AS BIGINT) AS score,
        |   CAST(n_agree AS BIGINT) AS n_agree,
        |   CASE WHEN score >= 40 THEN 'match' ELSE 'possible' END AS verdict
        | FROM p WHERE score >= 10 ORDER BY id_a, id_b""".stripMargin),

    // Why-were-these-linked evidence for each verified near-dup pair:
    // shared-shingle count + the first 5 shared shingles as text — the
    // reviewer-facing audit trail of the dedup decision. Exact oracle
    // (same shingle sets, list_intersect + sort + slice).
    QueryCase("q_dupe_evidence", ((s, dir) =>
      Dedup.dupeEvidence(docsWithDupes(s, dir), "doc_id", "text",
          shingleK = 3, threshold = 0.8)
        .presented("id_a", "id_b")),
      s"""WITH sh AS (SELECT doc_id, $shingleSetSql AS s
         |   FROM (SELECT doc_id, $tokensSql AS t FROM $docsWithDupesSql)),
         | p AS (SELECT id_a, id_b, sa, sb FROM (
         |     SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS sa, b.s AS sb,
         |       len(list_intersect(a.s, b.s))::DOUBLE
         |         / len(list_distinct(list_concat(a.s, b.s))) AS jac
         |     FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |       AND 5 * len(a.s) >= 4 * len(b.s)
         |       AND 5 * len(b.s) >= 4 * len(a.s))
         |   WHERE jac >= 0.8)
         | SELECT id_a, id_b,
         |   CAST(len(list_intersect(sa, sb)) AS BIGINT) AS n_shared,
         |   array_to_string(list_sort(list_intersect(sa, sb))[1:5], ' | ')
         |     AS evidence
         | FROM p ORDER BY id_a, id_b""".stripMargin),

    // Brute-force cosine top-k (queries = first 10 vectors, broadcast) —
    // REAL oracle: DuckDB list_cosine_similarity over DOUBLE[] reproduces
    // the engine's double-precision cosine bit-compatibly on this data.
    // Margin-based bitext mining (LASER/CCMatrix rule): a bounded
    // mining BATCH of even vectors against the full odd side — the
    // q_ann_brute batching convention, which keeps the exact cross mass
    // |batch| × |corpus| (linear in corpus for a fixed batch; the
    // all-vs-all sweep is the LSH-candidate path, see scaladoc).
    // DuckDB replays cos, both neighborhood averages, the argmax, and
    // the mined bit.
    QueryCase("q_bitext_mine", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bitextMine(
        emb.where(col("vec_id") % 2 === 0 && col("vec_id") < 2000),
        "vec_id", "embedding",
        emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
        k = 4, threshold = 1.0)
        .presented("left_id")
    }),
      """WITH l AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |   FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 2000),
        | r AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |   FROM embeddings WHERE vec_id % 2 = 1),
        | x AS (SELECT l.vec_id AS lid, r.vec_id AS rid,
        |     list_cosine_similarity(l.e, r.e) AS cos FROM l, r),
        | f AS (SELECT lid, sum(cos) / count(*) AS favg FROM (
        |     SELECT lid, cos, row_number() OVER (PARTITION BY lid
        |       ORDER BY cos DESC, rid) AS rn FROM x)
        |   WHERE rn <= 4 GROUP BY lid),
        | b AS (SELECT rid, sum(cos) / count(*) AS bavg FROM (
        |     SELECT rid, cos, row_number() OVER (PARTITION BY rid
        |       ORDER BY cos DESC, lid) AS rn FROM x)
        |   WHERE rn <= 4 GROUP BY rid),
        | best AS (SELECT lid, rid, cos FROM (
        |     SELECT lid, rid, cos, row_number() OVER (PARTITION BY lid
        |       ORDER BY cos DESC, rid) AS rn FROM x)
        |   WHERE rn = 1)
        | SELECT best.lid AS left_id, best.rid AS right_id,
        |   round(best.cos, 6) AS cos,
        |   round(best.cos / greatest((favg + bavg) / 2, 1e-9), 6) AS margin,
        |   (best.cos / greatest((favg + bavg) / 2, 1e-9) > 1.0)::INT
        |     AS mined
        | FROM best JOIN f USING (lid) JOIN b ON best.rid = b.rid
        | ORDER BY left_id""".stripMargin),

    // Sentence-level bitext alignment (integerized Gale–Church DP) over
    // id-derived "translation" pairs: B drops every 5th sentence (forcing
    // 1–0 ops) and pads every other one (length shifts). The DP cost is
    // exact int64, so DuckDB replays it via wavefront-unrolled CTEs; the
    // unique ops path is spec-pinned (cost determines it).
    QueryCase("q_sentence_align", ((s, dir) => {
      val sa = Dedup.sentences(col("text"))
      val sb = transform(
        filter(sa, (_, i) => i % 5 =!= 3),
        (x, i) => when(i % 2 === 0, concat(lit("pad "), x)).otherwise(x))
      Align.galeChurchArrays(t(s, dir, "documents"), "doc_id", sa, sb,
          maxSentences = 10)
        .select(col("doc_id"), col("n_a"), col("n_b"), col("total_cost"))
        .presented("doc_id")
    }),
      sentenceAlignOracleSql(10)),

    // The PRODUCTION bitext path: LSH-banded candidates (neither side
    // broadcast or bounded) + the same margin algebra, graded by recall
    // of the exact path's mined pairs (the q_ann_lsh convention).
    // Measured mined-set recall at sf0.01: 0.58 at 16×6 planes, 0.99 at
    // 32×4 (mined pairs include moderate-cos rows whose margin clears
    // 1.0 via LOW neighborhood averages, so banding needs more recall
    // headroom than a top-k task); 0.7 guards regressions.
    QueryCase("q_bitext_mine_lsh", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val l = emb.where(col("vec_id") % 2 === 0 && col("vec_id") < 2000)
      val r = emb.where(col("vec_id") % 2 === 1)
      // The exact mined set is GRADING TRUTH, deterministic per (s, dir)
      // — session-cached like the index families, so the measured query
      // is the LSH production path, not the exact harness re-run.
      val truth = bitextTruthFor(s, dir)
      recallReport(truth,
        Similarity.bitextMineLsh(l, "vec_id", "embedding",
            r, "vec_id", "embedding", k = 4, threshold = 1.0,
            bands = 32, planesPerBand = 4)
          .where(col("mined") === 1),
        Seq("left_id", "right_id"), minRecall = 0.7, nName = "n_exact")
    }),
      """WITH l AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |   FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 2000),
        | r AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |   FROM embeddings WHERE vec_id % 2 = 1),
        | x AS (SELECT l.vec_id AS lid, r.vec_id AS rid,
        |     list_cosine_similarity(l.e, r.e) AS cos FROM l, r),
        | f AS (SELECT lid, sum(cos) / count(*) AS favg FROM (
        |     SELECT lid, cos, row_number() OVER (PARTITION BY lid
        |       ORDER BY cos DESC, rid) AS rn FROM x)
        |   WHERE rn <= 4 GROUP BY lid),
        | b AS (SELECT rid, sum(cos) / count(*) AS bavg FROM (
        |     SELECT rid, cos, row_number() OVER (PARTITION BY rid
        |       ORDER BY cos DESC, lid) AS rn FROM x)
        |   WHERE rn <= 4 GROUP BY rid),
        | best AS (SELECT lid, rid, cos FROM (
        |     SELECT lid, rid, cos, row_number() OVER (PARTITION BY lid
        |       ORDER BY cos DESC, rid) AS rn FROM x)
        |   WHERE rn = 1)
        | SELECT count(*) AS n_exact, 1 AS recall_pass
        | FROM best JOIN f USING (lid) JOIN b ON best.rid = b.rid
        | WHERE best.cos / greatest((favg + bavg) / 2, 1e-9) > 1.0""".stripMargin),

    // ColBERT MaxSim late interaction: embeddings regrouped into
    // 4-token multi-vector "documents" (did = vec_id DIV 4), first 5
    // docs as queries; scores are integer sums of per-query-token
    // round(1e6·max cos) — ranking and scores fully oracled.
    QueryCase("q_maxsim", ((s, dir) => {
      val mv = t(s, dir, "embeddings")
        .select(expr("vec_id DIV 4").as("did"), col("vec_id").as("tid"),
          col("embedding"))
      Similarity.maxSimTopK(mv, "did", "embedding",
          mv.where(col("did") < 5)
            .select(col("did").as("qid"), col("tid"), col("embedding")),
          "qid", "tid", "embedding", k = 10)
        .presented("query_id", "rank")
    }),
      """WITH mv AS (SELECT vec_id // 4 AS did, vec_id AS tid,
        |     CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        | q AS (SELECT did AS qid, tid AS qtid, e AS qe
        |   FROM mv WHERE did < 5),
        | m AS (SELECT qid, qtid, did,
        |     max(list_cosine_similarity(e, qe)) AS mx
        |   FROM mv, q WHERE did <> qid GROUP BY qid, qtid, did),
        | sc AS (SELECT qid, did,
        |     CAST(sum(CAST(round(mx * 1e6) AS BIGINT)) AS BIGINT) AS score
        |   FROM m GROUP BY qid, did),
        | r AS (SELECT qid, did, score, row_number() OVER (PARTITION BY qid
        |     ORDER BY score DESC, did) AS rank FROM sc)
        | SELECT qid AS query_id, CAST(rank AS BIGINT) AS rank,
        |   did AS doc_id, score
        | FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    QueryCase("q_ann_brute", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
        .presented("query_id", "rank")
    }),
      """SELECT query_id, rank, neighbor_id FROM (
        |   SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |     row_number() OVER (PARTITION BY q.vec_id
        |       ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                       CAST(q.embedding AS DOUBLE[])) DESC,
        |                c.vec_id) AS rank
        |   FROM embeddings c, embeddings q
        |   WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        | WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // Binary-quantized ANN: sign-bit codes + exact Hamming top-k (the
    // FAISS IndexBinaryFlat tier — the memory-bandwidth first-pass filter
    // at 10⁹+ vectors). REAL oracle: DuckDB recomputes per-coordinate sign
    // disagreements (> 0 on the same floats) and replays the
    // (hamming asc, id asc) ranking exactly.
    QueryCase("q_ann_hamming", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hammingTopK(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 10), "vec_id", "embedding", k = 5, dim = 64)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("hamming").cast("long").as("hamming"))
        .presented("query_id", "rank")
    }),
      """WITH h AS (
        |   SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |     len(list_filter(range(1, 65),
        |       i -> (q.embedding[i] > 0) <> (c.embedding[i] > 0))) AS hamming
        |   FROM embeddings c, embeddings q
        |   WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        | SELECT query_id, rank, neighbor_id, hamming FROM (
        |   SELECT *, row_number() OVER (PARTITION BY query_id
        |     ORDER BY hamming, neighbor_id) AS rank FROM h)
        | WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // Hard-negative mining for contrastive training: per anchor, top-k most
    // similar NON-duplicate corpus items (cos < 0.95; the planted +1000000
    // copies are exact dups and must be excluded, not returned as
    // negatives). REAL oracle: DuckDB replays the cosine ranking and the
    // threshold filter on bit-identical doubles (q_embed_dupes proves
    // cosine parity on this data).
    QueryCase("q_hard_negatives", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val aug = emb.unionByName(emb.where(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 1000000L))
      Similarity.hardNegatives(aug, "vec_id", "embedding",
          aug.where(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, dupThreshold = 0.95)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
        .presented("query_id", "rank")
    }),
      """WITH aug AS (SELECT vec_id, embedding FROM embeddings
        |             UNION ALL
        |             SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 10),
        | sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |     list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                            CAST(q.embedding AS DOUBLE[])) AS cos
        |   FROM aug c, aug q WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        | SELECT query_id, rank, neighbor_id FROM (
        |   SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
        |     ORDER BY cos DESC, neighbor_id) AS rank
        |   FROM sc WHERE cos < 0.95)
        | WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // Multi-table LSH ANN recall vs in-job brute force. Measured recall at
    // sf0.01 with 16 tables × 6 planes is ~0.7 on this (hard, weakly
    // clustered) data; 0.3 guards regressions — chance recall at this
    // candidate volume is ~0.25 of that.
    QueryCase("q_ann_lsh", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      recallReport(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id",
          "embedding", k = 5).select(col("query_id"), col("neighbor_id")),
        Similarity.lshTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
          k = 5, tables = 16, planesPerTable = 6),
        Seq("query_id", "neighbor_id"), minRecall = 0.3, nName = "n_exact")
    }),
      """SELECT 5 * count(*) AS n_exact, 1 AS recall_pass
        | FROM embeddings WHERE vec_id < 10""".stripMargin),

    // IVF ANN recall vs in-job brute force (nlist=8 nprobe=3 measured ~0.62
    // at sf0.01 on the 10-cluster embeddings; 0.3 guards regressions).
    // Build-once/search-many: the quantizer fit + cell assignment happen ONCE
    // per session ([[ivfIndexFor]], the FAISS index contract) and every
    // execution measures SEARCH — at 100 TB nobody refits k-means per query
    // batch, so a bench that did would be timing the wrong thing.
    QueryCase("q_ann_ivf", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      recallReport(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id",
          "embedding", k = 5).select(col("query_id"), col("neighbor_id")),
        Similarity.ivfSearch(ivfIndexFor(s, dir), q, "vec_id", "embedding",
          k = 5, nprobe = 3),
        Seq("query_id", "neighbor_id"), minRecall = 0.3, nName = "n_exact")
    }),
      """SELECT 5 * count(*) AS n_exact, 1 AS recall_pass
        | FROM embeddings WHERE vec_id < 10""".stripMargin),

    // Embedding-level decontamination: train rows within cosine 0.95 of
    // any eval row (semantic leaks n-gram decontamination misses). Leaks
    // planted by construction (eval copies under offset ids); exact
    // oracle replays the cross cosine + threshold + (cos desc, id) argmax.
    QueryCase("q_semantic_decontaminate", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ev = emb.where(col("vec_id") < 10)
      val train = emb.where(col("vec_id") >= 10)
        .unionByName(ev.withColumn("vec_id", col("vec_id") + 1000000L))
      Similarity.semanticDecontaminate(train, "vec_id", "embedding",
        ev, "vec_id", "embedding", threshold = 0.95)
        .presented("train_id")
    }),
      """WITH ev AS (SELECT vec_id AS eval_id, embedding FROM embeddings
         |   WHERE vec_id < 10),
         | tr AS (SELECT vec_id AS train_id, embedding FROM embeddings
         |     WHERE vec_id >= 10
         |   UNION ALL
         |   SELECT vec_id + 1000000 AS train_id, embedding FROM embeddings
         |     WHERE vec_id < 10),
         | hit AS (SELECT train_id, eval_id,
         |     list_cosine_similarity(CAST(tr.embedding AS DOUBLE[]),
         |       CAST(ev.embedding AS DOUBLE[])) AS cos
         |   FROM tr CROSS JOIN ev
         |   WHERE list_cosine_similarity(CAST(tr.embedding AS DOUBLE[]),
         |     CAST(ev.embedding AS DOUBLE[])) >= 0.95),
         | best AS (SELECT train_id, eval_id, row_number() OVER (
         |     PARTITION BY train_id ORDER BY cos DESC, eval_id) AS rn
         |   FROM hit),
         | cnt AS (SELECT train_id, count(*)::BIGINT AS n_eval_hits
         |   FROM hit GROUP BY 1)
         | SELECT c.train_id, c.n_eval_hits, b.eval_id AS nearest_eval_id
         | FROM cnt c JOIN best b ON b.train_id = c.train_id AND b.rn = 1
         | ORDER BY c.train_id""".stripMargin),

    // Graph-index ANN search (single-layer HNSW-style beam over the
    // prebuilt kNN graph): fixed entry set, 3 expansion hops, top-k —
    // completes the search family (brute/LSH/IVF/PQ/OPQ/Hamming/graph).
    // ANN-family oracle convention: exact-truth counts + recall bit.
    QueryCase("q_graph_search", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 10)
      val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        qs, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      // Search budget recalibrated after the r16 data regen: the new
      // sf0.1 embedding geometry dropped 2-hop/16-beam recall to 0.18
      // (it was 0.54 on the old corpus) — measured sweep: b32/h4/e16
      // gives 0.68 (sf0.1) / 0.90 (sf0.01) / 0.92 (sf0.001), comfortable
      // margin over the 0.5 gate at every checked SF. Inherited red row
      // (replays identically under the pre-round conf), not an
      // optimization change.
      recallReport(truth,
        Similarity.graphSearch(knnGraphFor(s, dir), emb, "vec_id",
          "embedding", qs, "vec_id", "embedding", k = 5, beamWidth = 32,
          hops = 4, entryPoints = 16),
        Seq("query_id", "neighbor_id"), minRecall = 0.5, nName = "n_exact")
    }),
      """SELECT 5 * count(*) AS n_exact, 1 AS recall_pass
        | FROM embeddings WHERE vec_id < 10""".stripMargin),

    // Two-layer graph search: route through the coarse √n layer to get
    // per-query entry points, then local base hops — the bounded-hops
    // answer to single-layer search's diameter dependence (at 100 TB a
    // fixed hop budget from fixed entries costs recall; the coarse layer
    // keeps the entry frontier query-local at any n). Same hop budget as
    // q_graph_search, measurably better recall (0.68 vs 0.54 on this
    // corpus — the routing layer's contribution, not extra hops). Same
    // ANN-family oracle convention: exact-truth counts + recall bit.
    QueryCase("q_graph_search_layered", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 10)
      val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        qs, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      // Same post-regen recalibration as q_graph_search: 2-hop/16-beam
      // measured 0.38 on the new sf0.1 corpus; b32/h3 gives 0.64 (sf0.1)
      // / 0.88 (sf0.01) / 0.90 (sf0.001) — the routing layer still buys
      // its hop (single-layer needs h4/e16 for the same margin).
      recallReport(truth,
        Similarity.graphSearchLayered(knnGraphFor(s, dir),
          coarseLayerFor(s, dir), emb, "vec_id", "embedding",
          qs, "vec_id", "embedding", k = 5, beamWidth = 32,
          hops = 3),
        Seq("query_id", "neighbor_id"), minRecall = 0.5, nName = "n_exact")
    }),
      """SELECT 5 * count(*) AS n_exact, 1 AS recall_pass
        | FROM embeddings WHERE vec_id < 10""".stripMargin),

    // STREAMING on the oracle surface (r14): reservoirSampleStream's
    // batch-equality law — the per-key sample is a bottom-k order
    // statistic of the salted md5 draw, a pure function of the seen row
    // multiset — means the final report after ANY batch split equals the
    // batch stratifiedSample, so DuckDB replays it exactly. The feed is
    // a deterministic 5% subset in two micro-batches (split by id
    // parity); a regression in state merge or eviction order fails the
    // hash, not just a spec fixture.
    QueryCase("q_stream_reservoir", ((s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "events")
        .select(col("event_type").cast("string"),
          col("event_id").cast("long"))
        .where(col("event_id") % 100 < 5)
        .as[(String, Long)].collect().toSeq
      val batches = Seq(0L, 1L).map(p =>
        rows.filter(_._2 % 2 == p).map { case (k, i) =>
          graft.streaming.LogStream.SampleInput(k, i) })
      val reports = runStreamFinal(s, batches)(ds =>
        graft.streaming.LogStream.reservoirSampleStream(ds, k = 5))
      reports.groupBy(_.key).values.map(_.maxBy(_.n_seen)).toSeq
        .flatMap(r => r.ids.zipWithIndex.map { case (id, i) =>
          (r.key, r.n_seen, i + 1, id) })
        .toDF("key", "n_seen", "rank", "id")
        .presented("key", "rank")
    }),
      """WITH sub AS (SELECT event_type AS key, event_id AS id
        |     FROM events WHERE event_id % 100 < 5),
        |   r AS (SELECT key, id,
        |     row_number() OVER (PARTITION BY key
        |       ORDER BY substr(md5(id::VARCHAR || '-graft'), 1, 12), id)
        |       AS rank,
        |     count(*) OVER (PARTITION BY key) AS n_seen
        |   FROM sub)
        | SELECT key, n_seen, CAST(rank AS INT) AS rank, id
        | FROM r WHERE rank <= 5 ORDER BY key, rank""".stripMargin),

    // sessionize's FINAL session set replayed exactly (the fourth
    // streaming law on the oracle): with batches split by TIME, the
    // per-key fold sees events in global time order, so closed + timed-
    // out sessions over a bounded feed equal the batch gaps-and-islands
    // — which is plain SQL. Two flush batches advance the watermark past
    // every open session's last + gap (the first moves the watermark,
    // the second's trigger fires the event-time timeouts).
    QueryCase("q_stream_sessionize", ((s, dir) => {
      import s.implicits._
      val rows = events(s, dir)
        .select((col("user_id") % 50).cast("string"), col("ts_ms"),
          col("event_id").cast("long"))
        .where(col("event_id") % 100 < 5)
        .as[(String, Long, Long)].collect().toSeq
      val split = 1705350000000L
      def in(r: (String, Long, Long)) =
        graft.streaming.LogStream.SessionInput(r._1, r._2)
      val flushTs = rows.map(_._2).max + 10L * 24 * 3600 * 1000
      val batches = Seq(
        rows.filter(_._2 < split).map(in),
        rows.filter(_._2 >= split).map(in),
        Seq(graft.streaming.LogStream.SessionInput("__flush", flushTs)),
        Seq(graft.streaming.LogStream.SessionInput("__flush",
          flushTs + 3600000L)))
      val out = runStreamFinal(s, batches, mode = "append")(ds =>
        graft.streaming.LogStream.sessionize(ds, gapMs = 86400000L,
          watermark = "10 minutes"))
      out.filter(_.key != "__flush")
        .map(r => (r.key, r.startMs, r.endMs, r.n))
        .toDF("key", "start_ms", "end_ms", "n")
        .presented("key", "start_ms")
    }),
      """WITH sub AS (SELECT CAST(user_id % 50 AS VARCHAR) AS key,
        |     epoch_ms(ts) AS t
        |   FROM events WHERE event_id % 100 < 5),
        | g AS (SELECT key, t,
        |     CASE WHEN lag(t) OVER (PARTITION BY key ORDER BY t) IS NULL
        |       OR t - lag(t) OVER (PARTITION BY key ORDER BY t) > 86400000
        |       THEN 1 ELSE 0 END AS brk
        |   FROM sub),
        | i AS (SELECT key, t, sum(brk) OVER (PARTITION BY key ORDER BY t
        |     ROWS UNBOUNDED PRECEDING) AS sid FROM g)
        | SELECT key, min(t) AS start_ms, max(t) AS end_ms,
        |   count(*)::BIGINT AS n
        | FROM i GROUP BY key, sid ORDER BY key, start_ms""".stripMargin),

    // Stream-stream attribution join replayed exactly (the sixth
    // streaming law, and the only TWO-stream one): every in-window
    // (impression, click) pair plus each watermark-proven unclicked
    // impression equals the batch interval LEFT JOIN over the same
    // bounded feed. Time-split batches on BOTH streams + flush events
    // on both (the join's effective watermark is the min across inputs).
    QueryCase("q_stream_attribution", ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import graft.streaming.LogStream.{ClickInput, ImpressionInput}
      val ev = events(s, dir)
        .select(col("event_type"),
          (col("user_id") % 20).cast("string").as("k"),
          col("event_id").cast("long"), col("ts_ms"))
        .where(col("event_id") % 100 < 5 &&
          col("event_type").isin("view", "click"))
        .as[(String, String, Long, Long)].collect().toSeq
      val split = 1705350000000L
      val flushTs = ev.map(_._4).max + 10L * 24 * 3600 * 1000
      val imps = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[ImpressionInput]
      val clks = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[ClickInput]
      val joined = graft.streaming.LogStream.attributionJoin(
        imps.toDS(), clks.toDS(), windowMs = 86400000L,
        watermark = "10 seconds", joinType = "left_outer")
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.Row]()
      val q = withStreamConf(s) {
        joined.writeStream.outputMode("append")
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.collect().foreach(buf.add); ()
          }.start()
      }
      try {
        Seq(true, false).foreach { first =>
          val part = ev.filter(r => (r._4 < split) == first)
          val iv = part.filter(_._1 == "view")
            .map(r => ImpressionInput(r._3, r._2, r._4))
          val cv = part.filter(_._1 == "click")
            .map(r => ClickInput(r._3, r._2, r._4))
          if (iv.nonEmpty) imps.addData(iv: _*)
          if (cv.nonEmpty) clks.addData(cv: _*)
          q.processAllAvailable()
        }
        Seq(flushTs, flushTs + 3600000L).zipWithIndex.foreach {
          case (ts, i) =>
            imps.addData(ImpressionInput(-1L - i, "__flush", ts))
            clks.addData(ClickInput(-1L - i, "__flush", ts))
            q.processAllAvailable()
        }
      } finally q.stop()
      scala.jdk.CollectionConverters.CollectionHasAsScala(buf).asScala
        .toSeq
        .filter(_.getString(0) != "__flush")
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getLong(5))))
        .toDF("key", "imp_id", "imp_ms", "click_id", "click_ms",
          "lag_ms")
        .presented("imp_id", "click_id")
    }),
      """WITH imp AS (SELECT CAST(user_id % 20 AS VARCHAR) AS key,
        |     event_id AS imp_id, epoch_ms(ts) AS imp_ms
        |   FROM events
        |   WHERE event_id % 100 < 5 AND event_type = 'view'),
        |   clk AS (SELECT CAST(user_id % 20 AS VARCHAR) AS key,
        |     event_id AS click_id, epoch_ms(ts) AS click_ms
        |   FROM events
        |   WHERE event_id % 100 < 5 AND event_type = 'click')
        | SELECT i.key, i.imp_id, i.imp_ms, c.click_id, c.click_ms,
        |   c.click_ms - i.imp_ms AS lag_ms
        | FROM imp i LEFT JOIN clk c ON c.key = i.key
        |   AND c.click_ms >= i.imp_ms
        |   AND c.click_ms < i.imp_ms + 86400000
        | ORDER BY i.imp_id, c.click_id NULLS FIRST""".stripMargin),

    // bucketAnomalies' full verdict stream replayed exactly (the fifth
    // streaming law): buckets close in event-time order and each verdict
    // is the pure-int64 inequality against the moments of strictly
    // EARLIER buckets — which is a plain window in SQL (running n/S/Q
    // over PRECEDING buckets). Time-split batches + two watermark
    // flushes, as q_stream_sessionize.
    QueryCase("q_stream_anomalies", ((s, dir) => {
      import s.implicits._
      val rows = events(s, dir)
        .select(col("event_type"), col("ts_ms"),
          col("event_id").cast("long"))
        .where(col("event_id") % 100 < 5)
        .as[(String, Long, Long)].collect().toSeq
      val split = 1705350000000L
      def in(r: (String, Long, Long)) =
        graft.streaming.LogStream.AnomalyInput(r._1, r._2)
      val flushTs = rows.map(_._2).max + 10L * 24 * 3600 * 1000
      val batches = Seq(
        rows.filter(_._2 < split).map(in),
        rows.filter(_._2 >= split).map(in),
        Seq(graft.streaming.LogStream.AnomalyInput("__flush", flushTs)),
        Seq(graft.streaming.LogStream.AnomalyInput("__flush",
          flushTs + 3600000L)))
      val out = runStreamFinal(s, batches, mode = "append")(ds =>
        graft.streaming.LogStream.bucketAnomalies(ds,
          bucketMs = 21600000L, z = 2, minHistory = 5,
          watermark = "10 minutes"))
      out.filter(_.key != "__flush")
        .map(r => (r.key, r.bucket, r.cnt, if (r.isAnomaly) 1 else 0))
        .toDF("key", "bucket", "cnt", "is_anomaly")
        .presented("key", "bucket")
    }),
      """WITH sub AS (SELECT event_type AS key, epoch_ms(ts) AS t
        |     FROM events WHERE event_id % 100 < 5),
        |   bk AS (SELECT key, t // 21600000 AS bucket,
        |     count(*)::BIGINT AS cnt FROM sub GROUP BY 1, 2),
        |   w AS (SELECT key, bucket, cnt,
        |       count(*) OVER pre AS n,
        |       coalesce(sum(cnt) OVER pre, 0)::BIGINT AS s,
        |       coalesce(sum(cnt * cnt) OVER pre, 0)::BIGINT AS q
        |     FROM bk WINDOW pre AS (PARTITION BY key ORDER BY bucket
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        | SELECT key, bucket, cnt,
        |   CAST(CASE WHEN n >= 5
        |       AND (n * cnt - s) * (n * cnt - s) > 4 * (n * q - s * s)
        |     THEN 1 ELSE 0 END AS INT) AS is_anomaly
        | FROM w ORDER BY key, bucket""".stripMargin),

    // kmvDistinctStream's final per-key sketch replayed exactly: KMV
    // state (the ≤ k smallest distinct 48-bit md5 hashes) is a pure
    // function of the seen value multiset, so after any batch split the
    // final (n_kept, kth_hash, est) equals the batch sketch — DuckDB
    // rebuilds the bottom-k per key over the same subset. k = 16 so the
    // estimator path (not just the exact-below-k tier) is on the oracle.
    QueryCase("q_stream_kmv", ((s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "events")
        .select(col("event_type").cast("string"),
          col("user_id").cast("long"), col("event_id").cast("long"))
        .where(col("event_id") % 100 < 5)
        .as[(String, Long, Long)].collect().toSeq
      val batches = Seq(0L, 1L).map(p =>
        rows.filter(_._3 % 2 == p).map { case (k, u, _) =>
          graft.streaming.LogStream.DistinctInput(k, u.toString, 0L) })
      val reports = runStreamFinal(s, batches)(ds =>
        graft.streaming.LogStream.kmvDistinctStream(ds, k = 16))
      // n_kept saturates at k, so "latest report" is positional: the
      // harness drains batches sequentially, so per key the last element
      // IS the final state (unlike n_seen/n_obs, which grow strictly).
      reports.groupBy(_.key).values.map(_.last).toSeq
        .map(r => (r.key, r.n_kept, r.kth_hash, r.est))
        .toDF("key", "n_kept", "kth_hash", "est")
        .presented("key")
    }),
      """WITH sub AS (SELECT DISTINCT event_type AS key,
        |     CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
        |       AS BIGINT) AS h
        |   FROM events WHERE event_id % 100 < 5),
        | r AS (SELECT key, h,
        |     row_number() OVER (PARTITION BY key ORDER BY h) AS rn
        |   FROM sub),
        | s AS (SELECT key, CAST(least(count(*), 16) AS INT) AS n_kept,
        |     coalesce(max(CASE WHEN rn <= 16 THEN h END), 0) AS kth_hash
        |   FROM r GROUP BY key)
        | SELECT key, n_kept, kth_hash,
        |   CASE WHEN n_kept < 16 THEN CAST(n_kept AS BIGINT)
        |        ELSE (15 * 281474976710656) // (kth_hash + 1) END AS est
        | FROM s ORDER BY key""".stripMargin),

    // kmvDistinctStreamTtl's EVICTION path on the oracle (the seventh
    // streaming law): with ttl longer than the feed's event-time span, no
    // key can time out mid-stream, so every key lives in exactly ONE
    // window and the watermark flushes emit exactly one expired=true
    // final report per key whose sketch equals the batch bottom-k over
    // the full multiset. What this grades that q_stream_kmv cannot: the
    // flatMapGroupsWithState + EventTimeTimeout machinery — timeout
    // registration (lastMs + ttl), state.remove() on fire, and the
    // append-mode final emission. Mid-stream window SPLITTING is
    // batch-split-dependent by construction (global watermark vs per-key
    // gaps) and stays spec territory.
    QueryCase("q_stream_kmv_ttl", ((s, dir) => {
      import s.implicits._
      val rows = events(s, dir)
        .select(col("event_type").cast("string"),
          col("user_id").cast("long"), col("event_id").cast("long"),
          col("ts_ms"))
        .where(col("event_id") % 100 < 5)
        .as[(String, Long, Long, Long)].collect().toSeq
      val split = 1705350000000L
      def in(r: (String, Long, Long, Long)) =
        graft.streaming.LogStream.DistinctInput(r._1, r._2.toString, r._4)
      val flushTs = rows.map(_._4).max + 40L * 24 * 3600 * 1000
      val batches = Seq(
        rows.filter(_._4 < split).map(in),
        rows.filter(_._4 >= split).map(in),
        Seq(graft.streaming.LogStream.DistinctInput("__flush", "x",
          flushTs)),
        Seq(graft.streaming.LogStream.DistinctInput("__flush", "x",
          flushTs + 3600000L)))
      val reports = runStreamFinal(s, batches, mode = "append")(ds =>
        graft.streaming.LogStream.kmvDistinctStreamTtl(ds, k = 16,
          ttlMs = 30L * 24 * 3600 * 1000, watermark = "10 minutes"))
      reports.filter(r => r.expired && r.key != "__flush")
        .map(r => (r.key, r.n_kept, r.kth_hash, r.est, 1))
        .toDF("key", "n_kept", "kth_hash", "est", "expired")
        .presented("key")
    }),
      // Same bottom-k as q_stream_kmv plus the expired=1 bit: single-window
      // ttl (> feed span) means the evicted final report per key IS the
      // full-multiset sketch.
      """WITH sub AS (SELECT DISTINCT event_type AS key,
        |     CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
        |       AS BIGINT) AS h
        |   FROM events WHERE event_id % 100 < 5),
        | r AS (SELECT key, h,
        |     row_number() OVER (PARTITION BY key ORDER BY h) AS rn
        |   FROM sub),
        | s AS (SELECT key, CAST(least(count(*), 16) AS INT) AS n_kept,
        |     coalesce(max(CASE WHEN rn <= 16 THEN h END), 0) AS kth_hash
        |   FROM r GROUP BY key)
        | SELECT key, n_kept, kth_hash,
        |   CASE WHEN n_kept < 16 THEN CAST(n_kept AS BIGINT)
        |        ELSE (15 * 281474976710656) // (kth_hash + 1) END AS est,
        |   1 AS expired
        | FROM s ORDER BY key""".stripMargin),

    // The PRODUCTION streaming read path on the oracle (not MemoryStream):
    // the same 5% events subset is written as Boom files in two waves,
    // streamed back through the Boom micro-batch source
    // ([[graft.boom.BoomMicroBatchStream]], maxFilesPerTrigger = 1 → one
    // batch per file, exercising offset tracking + multi-batch planning)
    // into kmvDistinctStream. The KMV law (state = pure function of the
    // seen value multiset) makes the final per-key sketch independent of
    // the file/batch split, so the SAME DuckDB bottom-k as q_stream_kmv
    // grades the whole chain: boom write → streaming source → stateful
    // operator. A regression anywhere in that path (offset dedup, reader
    // flatten, message round-trip, state merge) fails the hash.
    QueryCase("q_stream_boom", ((s, dir) => {
      import s.implicits._
      val out = harnessScratchDir("boom-stream")
      val base = events(s, dir)
        .where(col("event_id") % 100 < 5)
        .select(col("ts_ms").as("timestamp"),
          concat(col("event_type"), lit(" "), col("user_id"))
            .as("message"),
          lit(0).as("eventId"),
          col("user_id").as("createTime"),
          col("event_id").as("blockNumber"),
          lit(1L).as("lineNumber"))
      Seq(0, 1).foreach(p =>
        base.where(col("blockNumber") % 2 === p).coalesce(1)
          .write.format("boom").mode("append").save(out))
      val in = s.readStream.format("boom")
        .option("maxFilesPerTrigger", "1").load(out)
        .select(split(col("message"), " ").getItem(0).as("key"),
          split(col("message"), " ").getItem(1).as("value"),
          lit(0L).as("eventTimeMs"))
        .as[graft.streaming.LogStream.DistinctInput]
      val est = graft.streaming.LogStream.kmvDistinctStream(in, k = 16)
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, graft.streaming.LogStream.DistinctEstimate)]()
      val q = withStreamConf(s) {
        est.writeStream.outputMode("update")
          .foreachBatch {
            (b: Dataset[graft.streaming.LogStream.DistinctEstimate],
             id: Long) => b.collect().foreach(r => buf.add((id, r))); ()
          }.start()
      }
      try q.processAllAvailable() finally q.stop()
      scala.jdk.CollectionConverters.CollectionHasAsScala(buf).asScala
        .toSeq.groupBy(_._2.key).values
        .map(_.maxBy(_._1)._2).toSeq
        .map(r => (r.key, r.n_kept, r.kth_hash, r.est))
        .toDF("key", "n_kept", "kth_hash", "est")
        .presented("key")
    }),
      // Same KMV bottom-k law as q_stream_kmv BY DESIGN: the engine side
      // routes the identical value multiset through the production Boom
      // write → micro-batch source → stateful operator chain instead of
      // MemoryStream, so equality of the two final sketches is exactly the
      // claim under test.
      """WITH sub AS (SELECT DISTINCT event_type AS key,
        |     CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
        |       AS BIGINT) AS h
        |   FROM events WHERE event_id % 100 < 5),
        | r AS (SELECT key, h,
        |     row_number() OVER (PARTITION BY key ORDER BY h) AS rn
        |   FROM sub),
        | s AS (SELECT key, CAST(least(count(*), 16) AS INT) AS n_kept,
        |     coalesce(max(CASE WHEN rn <= 16 THEN h END), 0) AS kth_hash
        |   FROM r GROUP BY key)
        | SELECT key, n_kept, kth_hash,
        |   CASE WHEN n_kept < 16 THEN CAST(n_kept AS BIGINT)
        |        ELSE (15 * 281474976710656) // (kth_hash + 1) END AS est
        | FROM s ORDER BY key""".stripMargin),

    // driftStream's final per-key report replayed exactly: state is the
    // observed class-count map (pure function of the row multiset), and
    // the χ² is the integer rational Σ ⌊10⁶·(o·R − O·r)² / (O·r·R)⌋ —
    // engine-independent per-class floors. Reference profile covers the
    // full lang domain so the "__other" fold never engages and the SQL
    // replay is a plain cross of keys × reference classes.
    QueryCase("q_stream_drift", ((s, dir) => {
      import s.implicits._
      val ref = Map("en" -> 4L, "fr" -> 2L, "es" -> 2L, "zh" -> 1L,
        "de" -> 1L)
      val rows = t(s, dir, "documents")
        .select(col("source").cast("string"), col("lang").cast("string"),
          col("doc_id").cast("long"))
        .where(col("doc_id") % 10 < 2)
        .as[(String, String, Long)].collect().toSeq
      val batches = Seq(0L, 1L).map(p =>
        rows.filter(_._3 % 2 == p).map { case (k, c, _) =>
          graft.streaming.LogStream.DriftInput(k, c) })
      val reports = runStreamFinal(s, batches)(ds =>
        graft.streaming.LogStream.driftStream(ds, ref,
          driftThresholdPpm = 500000L))
      reports.groupBy(_.key).values.map(_.maxBy(_.n_obs)).toSeq
        .map(r => (r.key, r.n_obs, r.chi2_ppm, r.drifted))
        .toDF("key", "n_obs", "chi2_ppm", "drifted")
        .presented("key")
    }),
      """WITH sub AS (SELECT source AS key, lang AS cls FROM documents
        |     WHERE doc_id % 10 < 2),
        |   o AS (SELECT key, cls, count(*)::BIGINT AS oc FROM sub
        |     GROUP BY 1, 2),
        |   keys AS (SELECT key, sum(oc)::BIGINT AS obs FROM o GROUP BY 1),
        |   ref(cls, rc) AS (SELECT * FROM (VALUES ('en', 4), ('fr', 2),
        |     ('es', 2), ('zh', 1), ('de', 1))),
        |   cells AS (SELECT k.key, k.obs, r.cls, r.rc::BIGINT AS rc,
        |       coalesce(o.oc, 0)::BIGINT AS oc
        |     FROM keys k CROSS JOIN ref r
        |     LEFT JOIN o ON o.key = k.key AND o.cls = r.cls),
        |   term AS (SELECT key, obs,
        |       (1000000::HUGEINT * (oc * 10 - obs * rc)
        |         * (oc * 10 - obs * rc))
        |         // (obs::HUGEINT * rc * 10) AS t
        |     FROM cells),
        |   agg AS (SELECT key, max(obs) AS n_obs, sum(t)::BIGINT
        |       AS chi2_ppm
        |     FROM term GROUP BY 1)
        | SELECT key, n_obs, chi2_ppm,
        |   CAST(CASE WHEN chi2_ppm > 500000 THEN 1 ELSE 0 END AS INT)
        |     AS drifted
        | FROM agg ORDER BY key""".stripMargin),

    // Recall telemetry AS API (the round-12 fixed-nlist lesson made law):
    // measured recall of the IVF search on a deterministic query sample
    // vs exact brute force — the number a 100 TB operator reads off every
    // index build instead of discovering degradation in a post-mortem.
    // Oracle is the ANN-family convention (counts + threshold bit).
    QueryCase("q_ann_recall_audit", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      val approx = Similarity.ivfSearch(ivfIndexFor(s, dir), q, "vec_id",
        "embedding", k = 5, nprobe = 3)
      Similarity.auditRecall(approx, "query_id", "neighbor_id",
        emb, "vec_id", "embedding", k = 5, sample = 10)
        .select(col("n_queries"), col("k"),
          (col("mean_recall_ppm") >= 300000L).cast("int").as("recall_pass"))
    }),
      """SELECT count(*) AS n_queries, CAST(5 AS BIGINT) AS k,
        |   1 AS recall_pass
        | FROM embeddings WHERE vec_id < 10""".stripMargin),

    // nprobe TUNING CURVE, value-oracled (r14 upgrade): recall@5 of an
    // INTEGER-EXACT IVF — cells and centroids from the oracled
    // kMeansQuantized chain (k = 8, iters = 2), probe order by integer
    // centroid d2 (ties to the low cid), in-cell ranking and the exact
    // truth both by integer quantized-L2 (ties to the low id) — at
    // nprobe ∈ {1, 2, 4, 8}. Every recall VALUE hash-matches a DuckDB
    // replay (no pinned bits — the r13 oracle hardcoded exact_recall
    // only at the endpoint and would have failed spuriously if measured
    // recall legitimately hit 1.0 earlier). Monotonicity and the
    // full-probe endpoint now hold by REPLAY, not by assertion. The
    // float-index tuning curve on the session MLlib IVF stays available
    // through Similarity.auditRecall (the telemetry API).
    QueryCase("q_nprobe_sweep", ((s, dir) => {
      val (asg, cents) = intIvfFor(s, dir)
      val qv = asg.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("q").as("qq"))
      // Score ONCE at full probe with each candidate's probe rank
      // retained (r17): the nprobe = p candidate set is exactly
      // {__pr <= p} under the same (d2 ASC, cid ASC) probe order, so the
      // exact truth (p = nlist) and all 4 sweep points reduce over ONE
      // persisted scored frame — truth + 4 points previously re-ran the
      // probe→join→score pipeline each (≈2.9 corpus-score passes in
      // total); now 1 (guide §5 cache-when-reused; within-query
      // lifecycle, reclaimed by the ContextCleaner after the write).
      // Equivalence with per-point Similarity.ivfSearchQuantized is
      // oracle-replayed (every recall VALUE) and asserted by
      // SimilaritySpec's sweep-equivalence test.
      val scored = Similarity.ivfScoreQuantizedAllCells(asg, cents, qv,
          "qid", "qq")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      scored.count()
      val truth = Similarity.ivfSearchQuantizedAt(scored, k = 5,
          nprobe = cents.length)
        .select(col("query_id"), col("neighbor_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      truth.count()
      Seq(1, 2, 4, 8).map { np =>
        val cand = Similarity.ivfSearchQuantizedAt(scored, k = 5,
            nprobe = np)
          .select(col("query_id"), col("neighbor_id"),
            lit(1L).as("__hit"))
        truth.join(cand, Seq("query_id", "neighbor_id"), "left")
          .agg(coalesce(sum("__hit"), lit(0L)).as("__h"),
            count(lit(1)).as("__n"))
          .select(lit(np).as("nprobe"),
            expr("(__h * 1000000) DIV __n").as("recall_ppm"))
      }.reduce(_ unionByName _)
        .presented("nprobe")
    }),
      nprobeSweepOracleSql(8, 2)),

    // IVF APPEND: quantizer fit on vec_id >= 100 only, the rest appended
    // by nearest-existing-cell routing (no refit) — recall vs brute force
    // over the FULL corpus proves appended vectors are searchable (the
    // queries themselves are appended ids). Index session-cached.
    QueryCase("q_ivf_append", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      recallReport(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id",
          "embedding", k = 5).select(col("query_id"), col("neighbor_id")),
        Similarity.ivfSearch(ivfAppendedFor(s, dir), q, "vec_id",
          "embedding", k = 5, nprobe = 3),
        Seq("query_id", "neighbor_id"), minRecall = 0.3, nName = "n_exact")
    }),
      """SELECT 5 * count(*) AS n_exact, 1 AS recall_pass
        | FROM embeddings WHERE vec_id < 10""".stripMargin),

    // PQ ANN recall vs in-job brute force: ADC shortlist over 8-byte codes
    // (32x compression) + exact re-rank of the shortlist — the FAISS PQ+
    // refine pipeline. Measured ~0.72 refined recall at sf0.01 (ADC alone
    // ~0.12 — quantization collapses tight clusters, the refine pass is the
    // point); 0.3 guards regressions. Codebook + codes are session-cached
    // (build-once/search-many) so the bench measures search.
    QueryCase("q_ann_pq", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      val (cb, codes) = pqIndexFor(s, dir)
      recallReport(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id",
          "embedding", k = 5).select(col("query_id"), col("neighbor_id")),
        ops.ProductQuantizer.pqTopK(codes, emb, "vec_id", "embedding", q,
          "vec_id", "embedding", cb, k = 5, refine = 10)
          .select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), minRecall = 0.3, nName = "n_exact")
    }),
      """SELECT 5 * count(*) AS n_exact, 1 AS recall_pass
        | FROM embeddings WHERE vec_id < 10""".stripMargin),

    // OPQ recall vs in-job brute force: deterministic PCA rotation with
    // eigenvalue allocation across the 8 subquantizer groups, then the
    // identical PQ pipeline on the rotated space (rotation preserves
    // cosine → same exact ground truth). Index session-cached; measured
    // refined recall 0.78 vs plain PQ's 0.72 at sf0.01 (same m/ksub/
    // refine) — the eigenvalue-allocation gain. 0.3 guards regressions.
    QueryCase("q_ann_opq", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      val (cb, codes, rot) = opqIndexFor(s, dir)
      val rotQ = rot.where(col("vec_id") < 10)
      recallReport(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id",
          "embedding", k = 5).select(col("query_id"), col("neighbor_id")),
        ops.ProductQuantizer.pqTopK(codes, rot, "vec_id", "embedding", rotQ,
          "vec_id", "embedding", cb, k = 5, refine = 10)
          .select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), minRecall = 0.3, nName = "n_exact")
    }),
      """SELECT 5 * count(*) AS n_exact, 1 AS recall_pass
        | FROM embeddings WHERE vec_id < 10""".stripMargin),

    // IVF-PQ recall vs in-job brute force: coarse cells + residual byte
    // codes + ADC within probed cells + exact refine — the full FAISS
    // IndexIVFPQ composition. Index session-cached so the bench measures
    // search. 0.3 guards regressions (measured well above at sf0.01).
    QueryCase("q_ann_ivfpq", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      val idx = ivfPqIndexFor(s, dir)
      recallReport(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id",
          "embedding", k = 5).select(col("query_id"), col("neighbor_id")),
        ops.ProductQuantizer.ivfPqTopK(idx, emb, "vec_id", "embedding", q,
          "vec_id", "embedding", k = 5, nprobe = 4, refine = 10)
          .select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), minRecall = 0.3, nName = "n_exact")
    }),
      """SELECT 5 * count(*) AS n_exact, 1 AS recall_pass
        | FROM embeddings WHERE vec_id < 10""".stripMargin),

    // Embedding near-dup pairs (augmented with exact copies) — REAL oracle:
    // DuckDB computes all-pairs cosine >= threshold directly; the banded
    // hyperplane blocking is exhaustive for identical vectors and the
    // natural pair distribution tops out far below the 0.99 threshold.
    // Greedy k-center diversity sample (farthest-point) over the
    // embeddings — coverage-maximizing selection for seed sets / eval
    // panels. FULLY oracled: the rounded-distance + id tie-break policy
    // makes the whole greedy chain engine-independent, and the oracle
    // unrolls the 8 selection rounds into chained CTEs.
    QueryCase("q_kcenter_sample", ((s, dir) =>
      Similarity.kCenterSample(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8)
        .presented("rank")),
      kCenterOracleSql(8)),

    // Maximal Marginal Relevance: 8 greedy picks balancing relevance to
    // vec 0's embedding against redundancy with earlier picks (λ = 0.5 —
    // an exact power-of-two scale). Same rounded-cosine + id-tie policy as
    // k-center, so the oracle unrolls the full selection chain.
    QueryCase("q_mmr_select", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.where(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      Similarity.mmrSelect(emb, "vec_id", "embedding", qv, k = 8)
        .presented("rank")
    }),
      mmrOracleSql(8)),

    // Deterministic fixed-point Lloyd k-means: coordinates quantized to
    // round(x·2^20) once, then every distance/argmin/mean is exact int64
    // arithmetic — the full 2-iteration loop is engine-independent, so
    // the oracle unrolls it into per-iteration CTE blocks and the final
    // assignment hash-matches.
    QueryCase("q_kmeans", ((s, dir) =>
      Similarity.kMeansQuantized(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 8, iters = 2)
        .presented("vec_id")),
      kMeansOracleSql(8, 2)),

    // Embedding outliers: top-20 farthest from the exact integer centroid
    // (fixed-point quantization + floor-mean + int64 squared L2 — the
    // kMeansQuantized numeric policies), so the oracle replays the whole
    // ranking bit-for-bit.
    QueryCase("q_embed_outliers", ((s, dir) =>
      Similarity.embeddingOutliers(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 20)
        .select(col("rank").cast("long").as("rank"), col("id").as("vec_id"),
          col("d2"))
        .presented("rank")),
      """WITH v AS (SELECT vec_id,
        |     list_transform(embedding,
        |       x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS q
        |   FROM embeddings WHERE embedding IS NOT NULL),
        | s AS (SELECT t.range AS i, CAST(sum(q[t.range]) AS BIGINT) AS s,
        |     count(*) AS n
        |   FROM v, range(1, 65) t GROUP BY 1),
        | c AS (SELECT list((s - ((s % n) + n) % n) // n ORDER BY i) AS m FROM s),
        | d AS (SELECT vec_id,
        |     CAST(list_sum(list_transform(range(1, 65),
        |       i -> (q[i] - m[i]) * (q[i] - m[i]))) AS BIGINT) AS d2
        |   FROM v, c)
        | SELECT rank, vec_id, d2 FROM (
        |   SELECT vec_id, d2, row_number() OVER (ORDER BY d2 DESC, vec_id) AS rank
        |   FROM d)
        | WHERE rank <= 20 ORDER BY rank""".stripMargin),

    QueryCase("q_embed_dupes", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val aug = emb.unionByName(emb.where(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 1000000L))
      Dedup.embeddingDupePairs(aug, "vec_id", "embedding", threshold = 0.99,
        bands = 8, planesPerBand = 8)
        .select(col("id_a"), col("id_b"))
        .presented("id_a", "id_b")
    }),
      """WITH aug AS (SELECT vec_id, embedding FROM embeddings
        |             UNION ALL
        |             SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 10)
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b
        | FROM aug a JOIN aug b ON a.vec_id < b.vec_id
        | WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                              CAST(b.embedding AS DOUBLE[])) >= 0.99
        | ORDER BY id_a, id_b""".stripMargin),

    // Multimodal: binary payload → real in-JDK pixel decode, graded
    // IN-BAND (the ANN recall-harness convention): every image row's
    // extracted color/luma means are compared against the re-drawn
    // fixture's (no codec in the expectation path — PNG must match
    // bit-for-bit, JPEG within codec tolerance) and the verdict ships as
    // pixel_ok. FULLY oracled: which rows are images and which must pass
    // is pure id arithmetic, so DuckDB pins every row; a broken decoder
    // or drifted feature extraction flips pixel_ok to 0 and hash-fails.
    // (extractFeatures' raw pixel-statistic vectors stay pinned against
    // the drawn fixture in MultimodalSpec.)
    QueryCase("q_multimodal", ((s, dir) =>
      Multimodal.pixelFidelity(Multimodal.syntheticMedia(s, 200))
        .presented("media_id")),
      // Pixel fidelity: image rows (id%5 < 2) must decode and match the
      // drawn fixture (pixel_ok = 1); non-image rows carry 0. The pass set
      // is pure id arithmetic — the pixel comparison itself runs in-job.
      """SELECT media_id,
        |  CASE media_id % 5 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
        |       WHEN 2 THEN 'audio/wav' WHEN 3 THEN 'video/mp4'
        |       ELSE 'audio/mpeg' END AS mime,
        |  CAST(CASE WHEN media_id % 5 < 2 THEN 1 ELSE 0 END AS INT) AS is_image,
        |  CAST(CASE WHEN media_id % 5 < 2 THEN 1 ELSE 0 END AS INT) AS pixel_ok
        |FROM range(200) t(media_id)
        |ORDER BY media_id""".stripMargin),

    // Media inventory from container headers only (MP4 box walk, MP3 frame
    // scan, WAV probe, image-dim header read — zero pixel/sample decode).
    // FULLY oracled: every synthetic payload is a pure function of
    // media_id, so DuckDB pins the expected header facts from the id
    // arithmetic alone — the parser must recover exactly the structure the
    // writer encoded (duration/timescale division, 16.16 dims, track
    // counts, ID3 skip + per-frame sample accounting).
    QueryCase("q_container_headers", ((s, dir) =>
      Multimodal.containerHeaders(Multimodal.syntheticMedia(s, 200))
        .presented("media_id")),
      // Synthetic payloads are pure functions of media_id (timescale-1000
      // mvhd, 16.16 tkhd dims, 128kbps/44.1kHz MP3 frames, 8kHz mono WAV) —
      // DuckDB re-derives every header fact from the id arithmetic.
      """SELECT media_id,
        |  CASE media_id % 5 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
        |       WHEN 2 THEN 'audio/wav' WHEN 3 THEN 'video/mp4'
        |       ELSE 'audio/mpeg' END AS mime,
        |  CASE media_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |       WHEN 2 THEN 'wav' WHEN 3 THEN 'mp4' ELSE 'mp3' END AS container,
        |  CAST(CASE media_id % 5
        |       WHEN 2 THEN ((800 + (media_id % 8) * 100) * 1000) // 8000
        |       WHEN 3 THEN 1000 + (media_id % 10) * 500
        |       WHEN 4 THEN ((10 + (media_id % 20)) * 1152 * 1000) // 44100
        |       END AS BIGINT) AS duration_ms,
        |  CAST(CASE media_id % 5 WHEN 0 THEN 64 WHEN 1 THEN 64
        |       WHEN 3 THEN 320 + (media_id % 4) * 160 END AS INT) AS width,
        |  CAST(CASE media_id % 5 WHEN 0 THEN 48 WHEN 1 THEN 48
        |       WHEN 3 THEN 240 + (media_id % 4) * 120 END AS INT) AS height,
        |  CAST(CASE WHEN media_id % 5 = 3 THEN 1 + media_id % 2 END AS INT)
        |    AS track_count,
        |  CAST(CASE WHEN media_id % 5 = 3 THEN 1 END AS INT) AS video_tracks,
        |  CAST(CASE WHEN media_id % 5 = 4 THEN 128 END AS INT) AS bitrate_kbps,
        |  CAST(CASE media_id % 5 WHEN 2 THEN 8000 WHEN 4 THEN 44100 END AS INT)
        |    AS sample_rate,
        |  CAST(CASE media_id % 5 WHEN 2 THEN 1 WHEN 4 THEN 2 END AS INT)
        |    AS channels,
        |  CAST(CASE media_id % 5 WHEN 2 THEN 800 + (media_id % 8) * 100
        |       WHEN 4 THEN 10 + (media_id % 20) END AS BIGINT) AS frames
        |FROM range(200) t(media_id)
        |ORDER BY media_id""".stripMargin),

    // DEEP media facts, still zero sample decode: MP4 stts/stsz/stss →
    // frames / media-timescale duration / keyframe density / byte mass;
    // MP3 per-frame bitrate profile → histogram width + VBR bit. FULLY
    // oracled: the fixture's sample tables and bitrate patterns are id
    // arithmetic (frame sizes 800 + (i%7)·16, keys every 8, VBR cycle
    // 112/128/160), so DuckDB pins every fact — the parser must walk the
    // real box tree / frame stream the writer encoded.
    QueryCase("q_video_facts", ((s, dir) =>
      Multimodal.mediaSampleFacts(Multimodal.syntheticDeepMedia(s, 100))
        .presented("media_id")),
      // Deep-media replay: every fact is id arithmetic. MP4 (even ids):
      // n = 48 + (id%10)·25 frames, keys every 8 (1-based ⇒ ceil(n/8)),
      // duration = n·512·1000 // 12800 = n·40 ms, sizes 800 + (i%7)·16 ⇒
      // Σ = 800n + 16·((n//7)·21 + (n%7)(n%7−1)/2). MP3 (odd): id%4==1
      // CBR 128; id%4==3 VBR cycling 112/128/160 (≥ 10 frames ⇒ all three
      // seen).
      """WITH f AS (SELECT media_id,
        |     CASE WHEN media_id % 2 = 0 THEN 48 + (media_id % 10) * 25
        |          ELSE 10 + (media_id % 20) END AS n
        |   FROM range(100) t(media_id))
        | SELECT media_id,
        |   CASE WHEN media_id % 2 = 0 THEN 'mp4' ELSE 'mp3' END AS kind,
        |   CAST(n AS BIGINT) AS frames,
        |   CAST(CASE WHEN media_id % 2 = 0 THEN (n + 7) // 8 END AS BIGINT)
        |     AS keyframes,
        |   CAST(CASE WHEN media_id % 2 = 0 THEN n * 40 END AS BIGINT)
        |     AS duration_ms,
        |   CAST(CASE WHEN media_id % 2 = 0 THEN ((n + 7) // 8) * 1000 // n
        |     END AS BIGINT) AS kf_per_1000,
        |   CAST(CASE WHEN media_id % 2 = 0 THEN 800 * n +
        |       16 * ((n // 7) * 21 + (n % 7) * ((n % 7) - 1) // 2)
        |     END AS BIGINT) AS sample_bytes,
        |   CAST(CASE WHEN media_id % 2 = 1 THEN
        |       CASE WHEN media_id % 4 = 1 THEN 1 ELSE 3 END END AS INT)
        |     AS n_bitrates,
        |   CAST(CASE WHEN media_id % 2 = 1 THEN
        |       CASE WHEN media_id % 4 = 1 THEN 128 ELSE 112 END END AS INT)
        |     AS min_kbps,
        |   CAST(CASE WHEN media_id % 2 = 1 THEN
        |       CASE WHEN media_id % 4 = 1 THEN 128 ELSE 160 END END AS INT)
        |     AS max_kbps,
        |   CAST(CASE WHEN media_id % 2 = 1 THEN
        |       CASE WHEN media_id % 4 = 1 THEN 0 ELSE 1 END END AS INT)
        |     AS vbr
        | FROM f ORDER BY media_id""".stripMargin),

    // Perceptual image near-dup dedup: aHash64 over decodable synthetic
    // images + byte-identical copies planted under id+1000; the banded
    // Hamming join must recover every planted pair (hamming 0 always
    // collides in all four bands — lossless). Oracle derives the counts
    // from the id arithmetic; the recall bit is the contract (the
    // q_multimodal pixel argument: pixels themselves aren't SQL).
    QueryCase("q_image_dupes", ((s, dir) => {
      val imgs = Multimodal.syntheticMedia(s, 200)
        .where(col("mime").startsWith("image/"))
      val all = imgs.unionByName(imgs.select(
        (col("media_id") + 1000).as("media_id"), col("doc_id"),
        col("mime"), col("bytes"), col("meta")))
      val hashes = Multimodal.imageHashes(all)
      val pairs = Dedup.hammingPairs(hashes, "media_id", "ahash",
        maxHamming = 0, maxBucketSize = 4096)
      val nImg = hashes.agg(count(lit(1)).as("n_images"))
      val nFound = pairs.agg(
        coalesce(sum(when(col("id_b") === col("id_a") + 1000, 1L)), lit(0L))
          .as("n_planted_found"))
      nImg.crossJoin(nFound).select(
        col("n_images"),
        expr("n_images DIV 2").as("n_planted"),
        col("n_planted_found"),
        (col("n_planted_found") === expr("n_images DIV 2")).cast("int")
          .as("recall_pass"))
    }),
      """WITH img AS (SELECT media_id FROM range(200) t(media_id)
        |   WHERE media_id % 5 < 2)
        | SELECT 2 * count(*) AS n_images, count(*) AS n_planted,
        |   count(*) AS n_planted_found, 1 AS recall_pass
        | FROM img""".stripMargin),

    // DCT perceptual hash (pHash) dedup — same planted-copy recall
    // contract as q_image_dupes, over the robust 32×32→DCT→8×8 hash
    // whose 63 non-DC bits survive uniform brightness shifts exactly.
    QueryCase("q_phash_dupes", ((s, dir) => {
      val imgs = Multimodal.syntheticMedia(s, 200)
        .where(col("mime").startsWith("image/"))
      val all = imgs.unionByName(imgs.select(
        (col("media_id") + 1000).as("media_id"), col("doc_id"),
        col("mime"), col("bytes"), col("meta")))
      val hashes = Multimodal.imagePHashes(all)
      val pairs = Dedup.hammingPairs(hashes, "media_id", "phash",
        maxHamming = 0, maxBucketSize = 4096)
      val nImg = hashes.agg(count(lit(1)).as("n_images"))
      val nFound = pairs.agg(
        coalesce(sum(when(col("id_b") === col("id_a") + 1000, 1L)), lit(0L))
          .as("n_planted_found"))
      nImg.crossJoin(nFound).select(
        col("n_images"),
        expr("n_images DIV 2").as("n_planted"),
        col("n_planted_found"),
        (col("n_planted_found") === expr("n_images DIV 2")).cast("int")
          .as("recall_pass"))
    }),
      """WITH img AS (SELECT media_id FROM range(200) t(media_id)
        |   WHERE media_id % 5 < 2)
        | SELECT 2 * count(*) AS n_images, count(*) AS n_planted,
        |   count(*) AS n_planted_found, 1 AS recall_pass
        | FROM img""".stripMargin),

    // Audio near-dup via the energy-envelope hash — only PCM (WAV) rows
    // fingerprint (MP3 has no JDK codec: skipped, not stubbed), planted
    // byte-identical copies must all collide at Hamming 0. Oracle from
    // id arithmetic: ids with id % 5 == 2 are WAV.
    QueryCase("q_audio_dupes", ((s, dir) => {
      val aud = Multimodal.syntheticMedia(s, 200)
        .where(col("mime").startsWith("audio/"))
      val all = aud.unionByName(aud.select(
        (col("media_id") + 1000).as("media_id"), col("doc_id"),
        col("mime"), col("bytes"), col("meta")))
      val hashes = Multimodal.audioHashes(all)
      val pairs = Dedup.hammingPairs(hashes, "media_id", "audhash",
        maxHamming = 0, maxBucketSize = 4096)
      val nAud = hashes.agg(count(lit(1)).as("n_audio"))
      val nFound = pairs.agg(
        coalesce(sum(when(col("id_b") === col("id_a") + 1000, 1L)), lit(0L))
          .as("n_planted_found"))
      nAud.crossJoin(nFound).select(
        col("n_audio"),
        expr("n_audio DIV 2").as("n_planted"),
        col("n_planted_found"),
        (col("n_planted_found") === expr("n_audio DIV 2")).cast("int")
          .as("recall_pass"))
    }),
      """WITH aud AS (SELECT media_id FROM range(200) t(media_id)
        |   WHERE media_id % 5 = 2)
        | SELECT 2 * count(*) AS n_audio, count(*) AS n_planted,
        |   count(*) AS n_planted_found, 1 AS recall_pass
        | FROM aud""".stripMargin),

    // URL / domain curation over deterministically synthesized URLs (pure
    // function of doc_id, exercising scheme/case/trailing-slash/tracking-
    // param/multi-part-suffix rules — the q_container_headers pattern).
    // FULLY oracled: DuckDB re-derives each URL from the id arithmetic
    // and replays the normalization policy with string/list functions.
    QueryCase("q_url_facts", ((s, dir) =>
      Web.urlFacts(withUrls(s, dir), "doc_id", "url")
        .presented("doc_id")),
      s"""WITH $urlFactsCteSql
         | SELECT doc_id, url, scheme, host, domain, path, depth, query,
         |   url_norm
         | FROM facts ORDER BY doc_id""".stripMargin),

    QueryCase("q_domain_stats", ((s, dir) =>
      Web.domainStats(withUrls(s, dir), "doc_id", "url")
        .presented("domain")),
      s"""WITH $urlFactsCteSql
         | SELECT domain, count(*) AS n_docs,
         |   count(DISTINCT host) AS n_hosts,
         |   count(DISTINCT url_norm) AS n_urls
         | FROM facts GROUP BY domain ORDER BY domain""".stripMargin),

    QueryCase("q_url_blocklist", ((s, dir) =>
      // blocklistFilter returns the CALLER'S rows (r15 fix: it used to
      // return the urlFacts projection, silently dropping every non-URL
      // column); the facts the oracle grades are derived after the filter.
      Web.urlFacts(
          Web.blocklistFilter(withUrls(s, dir), "doc_id", "url",
            BlockedDomains), "doc_id", "url")
        .select(col("doc_id"), col("domain"), col("url_norm"))
        .presented("doc_id")),
      s"""WITH $urlFactsCteSql
         | SELECT doc_id, domain, url_norm FROM facts
         | WHERE domain NOT IN (${BlockedDomains.map("'" + _ + "'").mkString(", ")})
         | ORDER BY doc_id""".stripMargin),

    // Canonical-capture election: among each SURT-duplicate URL group,
    // keep the HIGHEST-QUALITY document (argmax quality, ties to the
    // lower id) — the curation-aware refinement of keep-first dedup
    // (min-id keeps whatever was crawled first; quality election keeps
    // the best capture). One max(struct) aggregate per group; the
    // IEEE-replayable quality score makes the argmax exactly oracled.
    QueryCase("q_canonical_quality", ((s, dir) => {
      val sk = Web.surtKey(withUrls(s, dir), "doc_id", "url")
        .select(col("doc_id"), col("surt"))
      sk.join(t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("q")), "doc_id")
        .groupBy(col("surt"))
        .agg(count(lit(1)).as("n_copies"),
          max(struct(col("q").as("q"), (-col("doc_id")).as("nid")))
            .as("__best"))
        .select(col("surt"), col("n_copies"),
          (-col("__best.nid")).as("keep_id"), col("__best.q").as("quality"))
        .presented("surt")
    }),
      s"""WITH $urlFactsCteSql,
         | sk AS (SELECT doc_id,
         |     array_to_string(list_reverse(string_split(host, '.')), ',')
         |       || ')' || path ||
         |       (CASE WHEN query = '' THEN '' ELSE '?' ||
         |         array_to_string(list_sort(list_filter(
         |           string_split(query, '&'), x -> x <> '')), '&') END)
         |       AS surt
         |   FROM facts),
         | qual AS (SELECT doc_id,
         |   least(1.0,
         |     n_alpha::DOUBLE / greatest(n_chars, 1) * 0.5
         |     + len(list_distinct(t))::DOUBLE / greatest(len(t), 1) * 0.3
         |     + CASE WHEN len(list_intersect(t, $enStopSql)) > 0
         |            THEN 0.2 ELSE 0.0 END) AS q
         |  FROM (SELECT doc_id, length(text) AS n_chars, $tokensSql AS t,
         |      length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS n_alpha
         |    FROM documents)),
         | j AS (SELECT sk.doc_id, sk.surt, qual.q
         |   FROM sk JOIN qual USING (doc_id)),
         | r AS (SELECT surt, doc_id, q,
         |     count(*) OVER (PARTITION BY surt) AS n_copies,
         |     row_number() OVER (PARTITION BY surt ORDER BY q DESC, doc_id)
         |       AS rn
         |   FROM j)
         | SELECT surt, n_copies, doc_id AS keep_id, q AS quality
         | FROM r WHERE rn = 1 ORDER BY surt""".stripMargin),

    // Empirical-Bayes domain quality prior: int64-exact score sums
    // (round(1e6·q) per doc) shrunk toward the corpus mean — every
    // emitted double is one IEEE chain over identical integers, so
    // DuckDB replays mean and shrunk score bit-for-bit.
    QueryCase("q_domain_prior", ((s, dir) => {
      val facts = Web.urlFacts(withUrls(s, dir), "doc_id", "url")
        .where(col("domain").isNotNull)
        .select(col("doc_id"), col("domain"))
      val scored = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      Web.domainQualityPrior(facts.join(scored, "doc_id"),
          "doc_id", "domain", "q", k = 20.0)
        .presented("domain")
    }),
      s"""WITH $urlFactsCteSql,
         | qual AS (SELECT doc_id,
         |   least(1.0,
         |     n_alpha::DOUBLE / greatest(n_chars, 1) * 0.5
         |     + len(list_distinct(t))::DOUBLE / greatest(len(t), 1) * 0.3
         |     + CASE WHEN len(list_intersect(t, $enStopSql)) > 0
         |            THEN 0.2 ELSE 0.0 END) AS q
         |  FROM (SELECT doc_id, length(text) AS n_chars, $tokensSql AS t,
         |      length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS n_alpha
         |    FROM documents)),
         | j AS (SELECT domain, CAST(round(q * 1e6) AS BIGINT) AS qi
         |   FROM facts JOIN qual USING (doc_id) WHERE domain IS NOT NULL),
         | g AS (SELECT domain, count(*) AS n_docs,
         |     CAST(sum(qi) AS BIGINT) AS sq FROM j GROUP BY domain),
         | tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tn,
         |     CAST(sum(sq) AS BIGINT) AS ts FROM g)
         | SELECT domain, n_docs,
         |   CAST(sq AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1e6 AS mean_q,
         |   (CAST(sq AS DOUBLE)
         |     + 20.0 * (CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE)))
         |     / (CAST(n_docs AS DOUBLE) + 20.0) / 1e6 AS shrunk_q
         | FROM g, tt ORDER BY domain""".stripMargin),

    // SURT-keyed URL dedup: reversed-host canonical keys (sorted params,
    // tracking stripped) collapse scheme/case/slash/param-order variants —
    // the fetch-avoidance pass before any text exists. Exact oracle over
    // the same synthesized URLs.
    QueryCase("q_surt_dedup", ((s, dir) =>
      Web.surtDedup(withUrls(s, dir), "doc_id", "url")
        .presented("surt")),
      s"""WITH $urlFactsCteSql,
         | sk AS (SELECT doc_id,
         |     array_to_string(list_reverse(string_split(host, '.')), ',')
         |       || ')' || path ||
         |       (CASE WHEN query = '' THEN '' ELSE '?' ||
         |         array_to_string(list_sort(list_filter(
         |           string_split(query, '&'), x -> x <> '')), '&') END)
         |       AS surt
         |   FROM facts)
         | SELECT surt, min(doc_id) AS keep_id, count(*) AS n_copies
         | FROM sk GROUP BY surt ORDER BY surt""".stripMargin),

    // jusText-style HTML main-content extraction over deterministically
    // synthesized pages (nav + content paragraph + link-rail footer +
    // script/style/comment noise wrapped around each document's text):
    // the nav and footer blocks are link-dominated boilerplate, the
    // paragraph is content. FULLY oracled — DuckDB rebuilds the same
    // page and replays strip/segment/classify with RE2 regexes.
    QueryCase("q_html_extract", ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"), concat(
        lit("<html><head><title>t</title><style>.x{color:red}</style>" +
          "<script>var x = 1;</script></head><body>" +
          "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
          "<a href=\"/c\">Contact</a></nav><p>"),
        col("text"),
        lit("</p><div><a href=\"/t\">Terms of Service</a> " +
          "<a href=\"/p\">Privacy Policy</a></div>" +
          "<!-- generated footer --></body></html>")).as("html"))
      Web.htmlExtract(pages, "doc_id", "html").presented("doc_id")
    }),
      """WITH h AS (SELECT doc_id,
        |     '<html><head><title>t</title><style>.x{color:red}</style><script>var x = 1;</script></head><body><nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav><p>'
        |     || text ||
        |     '</p><div><a href="/t">Terms of Service</a> <a href="/p">Privacy Policy</a></div><!-- generated footer --></body></html>'
        |       AS html
        |   FROM documents),
        | c AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |     html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |     '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |     '(?s)<!--.*?-->', ' ', 'g') AS x FROM h),
        | b AS (SELECT doc_id, regexp_split_to_array(x,
        |     '(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|tr|td|th|article|section|header|footer|nav|blockquote|br)\b[^>]*>')
        |       AS bl
        |   FROM c),
        | st AS (SELECT doc_id,
        |     [trim(regexp_replace(regexp_replace(bb, '<[^>]*>', ' ', 'g'),
        |       '\s+', ' ', 'g')) for bb in bl] AS cl,
        |     [CAST(length(bb) - length(regexp_replace(bb,
        |         '(?is)<a(?:\s[^>]*)?>.*?</a>', '', 'g')) AS DOUBLE)
        |       / CAST(greatest(length(bb), 1) AS DOUBLE) for bb in bl] AS ld
        |   FROM b)
        | SELECT doc_id,
        |   len([i for i in range(1, len(cl) + 1) if length(cl[i]) > 0])
        |     AS n_blocks,
        |   len([i for i in range(1, len(cl) + 1)
        |     if length(cl[i]) >= 30 AND ld[i] <= 0.5e0]) AS n_good_blocks,
        |   array_to_string([cl[i] for i in range(1, len(cl) + 1)
        |     if length(cl[i]) >= 30 AND ld[i] <= 0.5e0], chr(10)) AS content
        | FROM st ORDER BY doc_id""".stripMargin),

    // SimHash signature CONTENT, fully oracled via the PORTABLE md5-vote
    // family (PortableSimHashOps): bit b of a token's vote is what SQL
    // reads from md5's hex string — (nibble >> (3 − b%4)) & 1 — and the
    // signature ships as two 32-bit big-endian halves so DuckDB assembles
    // it with exact non-wrapping arithmetic. The fast production family
    // stays the XXH64-vote simhash64 (un-replayable in SQL by
    // construction: wrapping 64-bit multiplies), which q_simhash_dupes'
    // oracled exact-dup coverage + DedupSpec's hand-computed fixtures
    // keep grading; this row proves the simhash ALGEBRA (per-token vote →
    // majority bit) bit-for-bit cross-engine.
    QueryCase("q_simhash_signatures", ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.portable_simhash(
            TextAnalysis.tokens(col("text"))).as("__s"))
        .select(col("doc_id"), col("__s").getField("sig_hi").as("sig_hi"),
          col("__s").getField("sig_lo").as("sig_lo"))
        .presented("doc_id")),
      // Portable simhash replay: bit b of a token's vote comes straight off
      // md5's hex string (nibble b//4, MSB-first within the nibble); majority
      // per bit, assembled as the two 32-bit big-endian halves with exact
      // double arithmetic.
      s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS tok
         |     FROM documents),
         | votes AS (SELECT doc_id, r.b AS b,
         |     sum(CASE WHEN ((strpos('0123456789abcdef',
         |           substr(md5(tok), CAST(r.b // 4 AS INT) + 1, 1)) - 1)
         |         // (CASE CAST(r.b % 4 AS INT) WHEN 0 THEN 8 WHEN 1 THEN 4
         |             WHEN 2 THEN 2 ELSE 1 END)) % 2 = 1
         |       THEN 1 ELSE -1 END) AS vote
         |   FROM toks, range(64) r(b) GROUP BY doc_id, r.b),
         | sig AS (SELECT doc_id,
         |     CAST(sum(CASE WHEN b < 32 AND vote > 0
         |       THEN pow(2e0, 31 - b) ELSE 0e0 END) AS BIGINT) AS sig_hi,
         |     CAST(sum(CASE WHEN b >= 32 AND vote > 0
         |       THEN pow(2e0, 63 - b) ELSE 0e0 END) AS BIGINT) AS sig_lo
         |   FROM votes GROUP BY doc_id)
         | SELECT d.doc_id, coalesce(sig_hi, 0) AS sig_hi,
         |   coalesce(sig_lo, 0) AS sig_lo
         | FROM documents d LEFT JOIN sig USING (doc_id)
         | ORDER BY doc_id""".stripMargin),

    // PII scrub pass (emails/IPs/digit runs → placeholders) — exact oracle:
    // the patterns are lookaround-free, so DuckDB applies the identical
    // chain. Emitted as a digest (changed-row count + total redacted length
    // delta) to keep the dump small.
    QueryCase("q_redact_pii", ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.redactPii(col("text")).as("red"), col("text"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("red") =!= col("text")).cast("int")).as("n_changed"),
          sum(length(col("text")) - length(col("red"))).cast("long").as("len_delta"))),
      s"""SELECT count(*) AS n_docs,
         |   CAST(sum(CASE WHEN red <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         |   CAST(sum(length(text) - length(red)) AS BIGINT) AS len_delta
         | FROM (SELECT text, $redactSql AS red FROM documents)""".stripMargin),

    // Vocabulary heavy-hitters: top-50 tokens by corpus frequency (exact
    // oracle — DuckDB unnests the same tokenization and re-counts).
    QueryCase("q_token_freq", ((s, dir) =>
      TextAnalysis.tokenFrequencies(t(s, dir, "documents"), "text")
        .orderBy(col("n").desc, col("token"))
        .limit(50)),
      s"""SELECT token, count(*) AS n
         | FROM (SELECT unnest($tokensSql) AS token FROM documents)
         | GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin),

    // Count–Min-sketch-audited heavy hitters: the exact top-50 (same rows
    // as q_token_freq) each checked against the sketch's estimate, emitted
    // as an audit bit (recall-harness pattern). Exact oracle: DuckDB
    // recomputes the exact counts and asserts the bit — the seeded sketch
    // is deterministic, so est_ok=1 is reproducible, not probabilistic.
    QueryCase("q_cms_heavy_hitters", ((s, dir) =>
      Sketches.cmsAuditedTopTokens(t(s, dir, "documents"), "text", k = 50)),
      s"""SELECT token, n, 1 AS est_ok FROM (
         |   SELECT token, count(*) AS n
         |   FROM (SELECT unnest($tokensSql) AS token FROM documents)
         |   GROUP BY token ORDER BY n DESC, token LIMIT 50)
         | ORDER BY n DESC, token""".stripMargin),

    // Feature-hash bag-of-words (hashing trick): signed md5-slot counts
    // per document — the model-free text→vector bridge. Integer-exact
    // oracle rebuilds the identical md5/%/sign chain.
    QueryCase("q_feature_hash", ((s, dir) =>
      TextAnalysis.featureHashCounts(t(s, dir, "documents"), "doc_id",
          "text", dim = 64)
        .presented("doc_id", "idx")),
      s"""WITH tk AS (SELECT doc_id, unnest($tokensSql) AS w FROM documents),
         | hx AS (SELECT doc_id,
         |     CAST(('0x' || substr(md5(w), 1, 13)) AS BIGINT) % 64 AS idx,
         |     CASE WHEN CAST(('0x' || substr(md5(w), 14, 1)) AS BIGINT) % 2 = 0
         |          THEN 1 ELSE -1 END AS s
         |   FROM tk)
         | SELECT doc_id, idx, CAST(sum(s) AS BIGINT) AS count
         | FROM hx GROUP BY doc_id, idx
         | HAVING sum(s) <> 0
         | ORDER BY doc_id, idx""".stripMargin),

    // Two-stage hybrid retrieval: BM25 top-100 lexical candidates →
    // exact-cosine re-rank against vec 0's embedding (doc_id = vec_id in
    // the synthetic schema). Integer-only output; oracle chains the
    // generated BM25 SQL with the same re-rank.
    QueryCase("q_hybrid_search", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.where(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      TextSearch.hybridTopK(t(s, dir, "documents"), "doc_id", "text",
        emb, "vec_id", "embedding", Bm25Terms, qv,
        nCandidates = 100, k = 10)
    }),
      {
      val bm25Sql = TextSearch.bm25RankOracleSql("documents", "doc_id",
        tokensSql, Bm25Terms, k = 100)
      s"""WITH cands AS ($bm25Sql),
         | qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |   WHERE vec_id = 0),
         | rr AS (SELECT c.doc_id,
         |     list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv.v)
         |       AS cos
         |   FROM cands c JOIN embeddings e ON e.vec_id = c.doc_id
         |   CROSS JOIN qv)
         | SELECT rank, doc_id FROM (
         |   SELECT row_number() OVER (ORDER BY cos DESC, doc_id) AS rank,
         |       doc_id
         |   FROM rr)
         | WHERE rank <= 10 ORDER BY rank""".stripMargin
    }),

    // Schema-on-read over the JSON props column: from_json with an
    // explicit schema (codegen'd Jackson parse, no UDF) → typed rollup
    // per event type. The log-analytics staple the string-grep queries
    // (q_grep_regex) deliberately avoid. Exact oracle via json_extract.
    QueryCase("q_json_extract", ((s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          countDistinct(col("k")).as("n_distinct_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .presented("event_type")),
      """SELECT event_type, count(*) AS n,
        |   CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT)
        |     AS sum_k,
        |   count(DISTINCT CAST(json_extract(props, '$.k') AS INT))
        |     AS n_distinct_k,
        |   min(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
        |   max(CAST(json_extract(props, '$.k') AS INT)) AS max_k
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Conversion-lag histogram: per user, first view → first purchase
    // delta in whole hours (exact integer DIV), bucketed — the funnel
    // LATENCY metric next to q_funnel's reach counts. One map-side-
    // combined conditional-min aggregate; no window, no self-join.
    QueryCase("q_conversion_lag", ((s, dir) =>
      events(s, dir)
        .where(col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("ts_ms"))).as("v"),
          min(when(col("event_type") === "purchase", col("ts_ms"))).as("p"))
        .where(col("v").isNotNull && col("p").isNotNull && col("p") >= col("v"))
        .select(expr("(p - v) DIV 3600000").as("lag_hours"))
        .groupBy("lag_hours").agg(count(lit(1)).as("n_users"))
        .presented("lag_hours")),
      """WITH f AS (SELECT user_id,
        |     min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS v,
        |     min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END)
        |       AS p
        |   FROM events WHERE event_type IN ('view', 'purchase')
        |   GROUP BY user_id)
        | SELECT (p - v) // 3600000 AS lag_hours, count(*) AS n_users
        | FROM f WHERE v IS NOT NULL AND p IS NOT NULL AND p >= v
        | GROUP BY 1 ORDER BY lag_hours""".stripMargin),

    // Key-skew profile of events.user_id: exact Gini of per-key counts
    // via the counts-of-counts rank-sum (no global sort), all-integer —
    // the oracle replays it with a row_number formulation (tie order
    // provably irrelevant) over HUGEINT sums.
    QueryCase("q_skew_profile", ((s, dir) =>
      Stats.skewProfile(events(s, dir), "user_id")),
      """WITH c AS (SELECT user_id, count(*) AS x FROM events
        |   GROUP BY user_id),
        | r AS (SELECT x, row_number() OVER (ORDER BY x, user_id) AS i FROM c),
        | s AS (SELECT sum(x * i) AS S, sum(x) AS T, count(*) AS n,
        |     max(x) AS mx FROM r)
        | SELECT CAST(T AS BIGINT) AS n_rows, CAST(n AS BIGINT) AS n_keys,
        |   CAST(mx AS BIGINT) AS max_count,
        |   CAST((1000000 * (2 * S - (n + 1) * T)) // (n * T) AS BIGINT)
        |     AS gini_scaled
        | FROM s""".stripMargin),

    // Reciprocal Rank Fusion of BM25 top-100 and dense-cosine top-100
    // (vec 0's embedding): integer-scaled 1/(60+rank) contributions sum
    // exactly, so the fused ranking is FULLY oracled (chains the
    // generated BM25 SQL with the cosine rank and the same fusion).
    QueryCase("q_rrf_fusion", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.where(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      TextSearch.rrfFusion(t(s, dir, "documents"), "doc_id", "text",
        emb, "vec_id", "embedding", Bm25Terms, qv,
        nCandidates = 100, k = 10)
    }),
      {
      val bm25Sql = TextSearch.bm25RankOracleSql("documents", "doc_id",
        tokensSql, Bm25Terms, k = 100)
      s"""WITH lex AS ($bm25Sql),
         | qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |   WHERE vec_id = 0),
         | dd AS (SELECT vec_id AS doc_id,
         |     list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv.v)
         |       AS cos
         |   FROM embeddings, qv),
         | dense AS (SELECT doc_id, rank FROM (
         |     SELECT doc_id,
         |       CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
         |         AS BIGINT) AS rank
         |     FROM dd) WHERE rank <= 100),
         | f AS (SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
         |     coalesce(1000000000000 // (60 + l.rank), 0)
         |       + coalesce(1000000000000 // (60 + d.rank), 0) AS rrf_scaled,
         |     l.rank AS lex_rank, d.rank AS dense_rank
         |   FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id)
         | SELECT rank, doc_id, rrf_scaled, lex_rank, dense_rank FROM (
         |   SELECT CAST(row_number() OVER (ORDER BY rrf_scaled DESC, doc_id)
         |       AS BIGINT) AS rank,
         |     doc_id, rrf_scaled, lex_rank, dense_rank
         |   FROM f)
         | WHERE rank <= 10 ORDER BY rank""".stripMargin
    }),

    // The KMV MERGE LAW as an oracled bit: per-event-type min-64 sketches
    // union (one more k-bounded aggregate over the exploded per-group
    // states) into exactly the direct global sketch — every global
    // k-smallest distinct hash survives its own group's min-k, so
    // per-day/per-partition sketches roll up losslessly. This is the
    // query a 100 TB nightly rollup runs instead of re-scanning history.
    QueryCase("q_kmv_merge", ((s, dir) => {
      import graft.functions.TopKByScore.topk_by_score
      val e = events(s, dir).where(col("user_id").isNotNull)
      val h = conv(substring(md5(col("user_id").cast("string")
        .cast("binary")), 1, 12), 16, 10).cast("long")
      val sk = topk_by_score(
        -col("__h").cast("double"), col("__h"), 64, distinctIds = true)
      val merged = e.select(col("event_type"), h.as("__h"))
        .groupBy("event_type").agg(sk.as("__g"))
        .select(explode(col("__g")).as("x"))
        .select(col("x.id").as("__h"))
        .agg(sk.as("__m"))
        .select(size(col("__m")).as("m_kept"),
          element_at(col("__m"), size(col("__m"))).getField("id")
            .as("m_kth"))
      val direct = e.select(h.as("__h"))
        .agg(sk.as("__d"))
        .select(size(col("__d")).as("d_kept"),
          element_at(col("__d"), size(col("__d"))).getField("id")
            .as("d_kth"))
      merged.crossJoin(direct)
        .select(col("m_kept"), col("m_kth"), col("d_kept"), col("d_kth"),
          (col("m_kept") === col("d_kept") &&
            col("m_kth") === col("d_kth")).cast("int").as("merge_exact"))
    }),
      // The merge law makes both sides equal the direct global min-64, so
      // the oracle computes it once and asserts the bit.
      """WITH h AS (SELECT DISTINCT
        |     CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
        |       AS BIGINT) AS h
        |   FROM events WHERE user_id IS NOT NULL),
        | r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h),
        | s AS (SELECT CAST(least(count(*), 64) AS INT) AS kept,
        |     max(CASE WHEN rn <= 64 THEN h END) AS kth FROM r)
        | SELECT kept AS m_kept, kth AS m_kth, kept AS d_kept, kth AS d_kth,
        |   1 AS merge_exact
        | FROM s""".stripMargin),

    // KMV INTERSECTION across source slices (Beyer et al. 2007):
    // min-k(A∪B) from the two sketches alone, Jaccard fraction ρ of the
    // union min-k present in both, |A∩B| ≈ ρ·|A∪B|_KMV — pairwise
    // vocabulary overlap across N slices for N k-bounded sketches
    // instead of N² distinct joins. FULLY oracled including est_ok (md5
    // order statistics + integer floor arithmetic + 2^20 fixed-point
    // tolerance — no float in the contract).
    QueryCase("q_kmv_intersect", ((s, dir) =>
      Sketches.kmvIntersect(
        t(s, dir, "documents").select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("w")),
        "source", "w", k = 64)
        .presented("src_a", "src_b")),
      kmvIntersectOracleSql(64)),

    // HLL-audited distinct users per event type: exact distinct count
    // (oracled) + a deterministic audit bit that the mergeable sketch
    // estimate landed inside its 4σ envelope.
    QueryCase("q_hll_distinct", ((s, dir) =>
      Sketches.hllAuditedDistinct(events(s, dir), "event_type", "user_id")
        .presented("event_type")),
      """SELECT event_type, count(DISTINCT user_id) AS n_exact, 1 AS est_ok
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Mergeable quantile sketch (GK approx_percentile) per event type,
    // audited against the EXACT rank in-job — deterministic worst-case
    // bound, so rank_ok is a stable 1; the oracle replays (key,
    // probability, n) exactly and the sketch's implementation-specific
    // values stay out of the contract (the hll/cms audit-bit pattern).
    QueryCase("q_quantile_sketch", ((s, dir) =>
      Sketches.quantileProfile(events(s, dir), "event_type", "value")
        .presented("event_type", "probability")),
      """SELECT event_type, p.p AS probability, count(*) AS n, 1 AS rank_ok
        | FROM events, unnest([0.5, 0.9, 0.99]) p(p)
        | GROUP BY 1, 2 ORDER BY event_type, probability""".stripMargin),

    // KMV distinct sketch per event type: min-64 md5 hashes, estimate =
    // (k−1)·2⁴⁸ / h_k — the portable distinct sketch whose ESTIMATE the
    // oracle replays exactly (md5 → min-k order statistics → integer floor
    // division), not just an audit bit. Mergeable: min-k sets union→min-k.
    QueryCase("q_kmv_distinct", ((s, dir) =>
      Sketches.kmvDistinct(events(s, dir), "event_type", "user_id", k = 64)
        .presented("event_type")),
      // Full replay of the KMV sketch (k = 64, 48-bit md5 hashes): the same
      // min-k order statistics and exact integer estimator as
      // Sketches.kmvDistinct — the estimate itself is the contract.
      """WITH h AS (SELECT DISTINCT event_type,
        |     CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
        |       AS BIGINT) AS h
        |   FROM events WHERE user_id IS NOT NULL),
        | r AS (SELECT event_type, h,
        |     row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |   FROM h),
        | s AS (SELECT event_type,
        |     CAST(least(count(*), 64) AS INT) AS n_kept,
        |     max(CASE WHEN rn <= 64 THEN h END) AS kth_hash
        |   FROM r GROUP BY event_type),
        | e AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
        |   FROM events WHERE user_id IS NOT NULL GROUP BY event_type)
        |SELECT s.event_type, e.n_exact, s.n_kept, s.kth_hash,
        |   CASE WHEN s.n_kept < 64 THEN CAST(s.n_kept AS BIGINT)
        |        ELSE (63 * 281474976710656) // (s.kth_hash + 1) END AS est,
        |   CAST(abs(CASE WHEN s.n_kept < 64 THEN CAST(s.n_kept AS BIGINT)
        |        ELSE (63 * 281474976710656) // (s.kth_hash + 1) END
        |       - e.n_exact)
        |     <= greatest(CAST(e.n_exact AS DOUBLE) * (4 * (1.0 / sqrt(62.0))),
        |                 4.0) AS INT) AS est_ok
        | FROM s JOIN e USING (event_type)
        | ORDER BY event_type""".stripMargin),

    // PCA over the embedding table (distributed Gram aggregation +
    // deterministic driver Jacobi — no BLAS variance), audited in-job per
    // component (eigen-residual, orthonormality, descending spectrum) with
    // the DuckDB-exact parts (n, covariance trace = Σ per-dim var_samp) in
    // the oracle — the audit-bit pattern. pcaProject/whiten is the narrow
    // plan-constant projection consumed downstream (SemDeDup whitening).
    QueryCase("q_pca", ((s, dir) =>
      Similarity.pcaAudited(t(s, dir, "embeddings"), "embedding", k = 8)
        .presented("component")),
      s"""SELECT CAST(c.c AS INT) AS component, n.n AS n, 1 AS resid_ok,
         |   1 AS ortho_ok, 1 AS spectrum_ok, tr.trace AS trace
         | FROM range(0, 8) c(c),
         |   (SELECT count(*) AS n FROM embeddings) n,
         |   (SELECT round($traceSql, 4) AS trace FROM embeddings) tr
         | ORDER BY component""".stripMargin),

    // Sparse random projection (Achlioptas JL) of the embedding table —
    // EXACT oracle: the ±1/0 matrix comes from the deterministic stream
    // shared with the oracle generator, terms add in ascending column
    // order in double on both engines, and `+ 0.0` canonicalizes -0.0.
    QueryCase("q_random_projection", ((s, dir) =>
      Similarity.randomProjection(t(s, dir, "embeddings"), "vec_id", "embedding",
          inDim = 64, outDim = 8)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "v")))
        .select(col("vec_id"), col("j"), (round(col("v"), 6) + lit(0.0)).as("v"))
        .presented("vec_id", "j")),
      // Exact replay of the Achlioptas projection: the ±column index list per
      // output dimension is generated from Similarity.projectionSigns — the
      // SAME deterministic stream the operator embeds as plan constants.
      s"""SELECT vec_id, u.j AS j, u.v AS v FROM (
         |   SELECT vec_id, unnest([$projectionRowsSql]) AS u FROM embeddings)
         | ORDER BY vec_id, j""".stripMargin),

    // Gopher repetition signals (dup-token fraction, most-frequent-bigram
    // count) — exact oracle: DuckDB recomputes via unnest + group-by where
    // the operator uses a narrow sorted-run fold.
    QueryCase("q_repetition", ((s, dir) =>
      TextAnalysis.repetitionMetrics(t(s, dir, "documents"), "doc_id", "text", n = 2)
        .presented("doc_id")),
      s"""WITH d AS (SELECT doc_id, $tokensSql AS t FROM documents),
         | g AS (SELECT doc_id, [t[i] || ' ' || t[i+1] for i in range(1, len(t))] AS gs FROM d),
         | e AS (SELECT doc_id, unnest(gs) AS g FROM g),
         | c AS (SELECT doc_id, g, count(*) AS cnt FROM e GROUP BY doc_id, g),
         | m AS (SELECT doc_id, max(cnt) AS mx FROM c GROUP BY doc_id)
         | SELECT d.doc_id, len(d.t) AS n_tokens,
         |   len(d.t) - len(list_distinct(d.t)) AS n_dup_tokens,
         |   (len(d.t) - len(list_distinct(d.t)))::DOUBLE / greatest(len(d.t), 1) AS dup_token_frac,
         |   len(g.gs) AS n_grams,
         |   coalesce(m.mx, 0) AS max_gram_count,
         |   coalesce(m.mx, 0)::DOUBLE / greatest(len(g.gs), 1) AS top_gram_frac
         | FROM d JOIN g USING (doc_id) LEFT JOIN m USING (doc_id)
         | ORDER BY doc_id""".stripMargin),

    // Gopher char-level repetition table (top-3-gram char mass, dup-5-gram
    // char coverage) — exact oracle: DuckDB rebuilds gram strings,
    // re-derives the max mass and the covered-position char sum.
    QueryCase("q_repetition_profile", ((s, dir) =>
      TextAnalysis.repetitionProfile(t(s, dir, "documents"), "doc_id", "text",
          topNs = Seq(3), dupNs = Seq(5))
        .presented("doc_id")),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
         | base AS (SELECT doc_id, t,
         |     list_transform(t, x -> length(x)) AS le,
         |     coalesce(CAST(list_sum(list_transform(t, x -> length(x)))
         |       AS BIGINT), 0) AS total
         |   FROM tk),
         | g3 AS (SELECT doc_id, i,
         |     array_to_string(list_slice(t, i, i + 2), ' ') AS g,
         |     CAST(coalesce(list_sum(list_slice(le, i, i + 2)), 0) AS BIGINT)
         |       AS glen
         |   FROM (SELECT doc_id, t, le, unnest(range(1, len(t) - 1)) AS i
         |     FROM base)),
         | c3 AS (SELECT doc_id, g, count(*) AS cnt, min(glen) AS glen
         |   FROM g3 GROUP BY doc_id, g),
         | m3 AS (SELECT doc_id, max(cnt * glen) AS top_mass
         |   FROM c3 GROUP BY doc_id),
         | g5 AS (SELECT doc_id, i,
         |     array_to_string(list_slice(t, i, i + 4), ' ') AS g
         |   FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
         |     FROM base)),
         | d5 AS (SELECT doc_id, g FROM (
         |     SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY doc_id, g)
         |   WHERE cnt >= 2),
         | covpos AS (SELECT DISTINCT q.doc_id, q.i + u.o AS j
         |   FROM (SELECT g5.doc_id, g5.i FROM g5 JOIN d5 USING (doc_id, g)) q
         |     CROSS JOIN UNNEST(range(0, 5)) AS u(o)),
         | cchars AS (SELECT covpos.doc_id,
         |     CAST(sum(b.le[covpos.j]) AS BIGINT) AS cov
         |   FROM covpos JOIN base b USING (doc_id) GROUP BY covpos.doc_id)
         | SELECT b.doc_id, b.total AS total_chars,
         |   coalesce(m3.top_mass, 0)::DOUBLE / greatest(b.total, 1)
         |     AS top_3gram_char_frac,
         |   coalesce(cchars.cov, 0)::DOUBLE / greatest(b.total, 1)
         |     AS dup_5gram_char_frac
         | FROM base b LEFT JOIN m3 USING (doc_id)
         |   LEFT JOIN cchars USING (doc_id)
         | ORDER BY b.doc_id""".stripMargin),

    // Gopher quality filter: per-rule measurements + keep verdict.
    QueryCase("q_gopher_filter", ((s, dir) =>
      TextAnalysis.gopherFilter(t(s, dir, "documents"), "doc_id", "text",
        minWords = 20, maxWords = 10000, minMeanLen = 3.0, maxMeanLen = 10.0,
        minAlphaFrac = 0.8, minStopHits = 1)
        .presented("doc_id")),
      s"""SELECT doc_id, len(t) AS n_words,
         |   coalesce(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE), 0)
         |     / greatest(len(t), 1) AS mean_word_len,
         |   len(list_filter(t, x -> regexp_matches(x, '\\p{L}')))::DOUBLE
         |     / greatest(len(t), 1) AS alpha_word_frac,
         |   len(list_intersect(t, ${sqlList(TextAnalysis.StopwordProfiles("en"))})) AS stop_hits,
         |   (len(t) >= 20 AND len(t) <= 10000
         |     AND coalesce(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE), 0)
         |       / greatest(len(t), 1) >= 3.0
         |     AND coalesce(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE), 0)
         |       / greatest(len(t), 1) <= 10.0
         |     AND len(list_filter(t, x -> regexp_matches(x, '\\p{L}')))::DOUBLE
         |       / greatest(len(t), 1) >= 0.8
         |     AND len(list_intersect(t, ${sqlList(TextAnalysis.StopwordProfiles("en"))})) >= 1)
         |     AS keep
         | FROM (SELECT doc_id, $tokensSql AS t FROM documents)
         | ORDER BY doc_id""".stripMargin),

    // StarCoder/SantaCoder code-quality filter: line geometry +
    // char-class rules + autogen markers, every measurement exact int64
    // arithmetic divided once — fully oracled including the verdict.
    QueryCase("q_code_filter", ((s, dir) =>
      TextAnalysis.codeFilter(t(s, dir, "documents"), "doc_id", "text")
        .presented("doc_id")),
      s"""WITH s AS (SELECT doc_id, text, $tokensSql AS t,
         |     CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         |     CAST(length(text) AS BIGINT) AS n_chars FROM documents),
         | m AS (SELECT doc_id,
         |     n_lines,
         |     CAST(n_chars - (n_lines - 1) AS DOUBLE)
         |       / CAST(greatest(n_lines, 1) AS DOUBLE) AS avg_line_len,
         |     CAST(coalesce(list_max(list_transform(
         |       string_split(text, chr(10)), x -> length(x))), 0) AS BIGINT)
         |       AS max_line_len,
         |     CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
         |         AS DOUBLE)
         |       / CAST(greatest(n_chars, 1) AS DOUBLE) AS alnum_frac,
         |     CAST(len(list_filter(t,
         |         x -> regexp_full_match(x, '[0-9a-f]{8,}'))) AS DOUBLE)
         |       / CAST(greatest(len(t), 1) AS DOUBLE) AS hex_token_frac,
         |     (contains(lower(text), 'auto-generated')
         |       OR contains(lower(text), 'autogenerated')
         |       OR contains(lower(text), 'do not edit')
         |       OR contains(lower(text), 'generated by'))::INT AS autogen
         |   FROM s)
         | SELECT doc_id, n_lines, avg_line_len, max_line_len, alnum_frac,
         |   hex_token_frac, autogen,
         |   (avg_line_len <= 100.0e0 AND max_line_len <= 1000
         |     AND alnum_frac >= 0.25e0 AND hex_token_frac <= 0.4e0
         |     AND autogen = 0)::INT AS keep
         | FROM m ORDER BY doc_id""".stripMargin),

    // Two-proportion z-test over a deterministic unit split (user
    // parity = variant, converted = any purchase event): the A/B
    // readout, with z and the 95% verdict one IEEE chain over four
    // exact counts — DuckDB replays it bit-for-bit.
    QueryCase("q_ab_test", ((s, dir) => {
      val units = events(s, dir)
        .groupBy(col("user_id"))
        .agg(max((col("event_type") === "purchase").cast("int"))
          .as("converted"))
        .select((col("user_id") % 2).as("variant"), col("converted"))
      Stats.abTest(units, "variant", "converted")
    }),
      """WITH u AS (SELECT user_id % 2 AS variant,
        |     max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |       AS converted
        |   FROM events GROUP BY user_id),
        | g AS (SELECT
        |     CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |       AS n_0,
        |     CAST(sum(CASE WHEN variant = 0 AND converted = 1 THEN 1
        |       ELSE 0 END) AS BIGINT) AS x_0,
        |     CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |       AS n_1,
        |     CAST(sum(CASE WHEN variant = 1 AND converted = 1 THEN 1
        |       ELSE 0 END) AS BIGINT) AS x_1
        |   FROM u),
        | s AS (SELECT *,
        |     CAST(x_0 AS DOUBLE) / CAST(n_0 AS DOUBLE) AS p_0,
        |     CAST(x_1 AS DOUBLE) / CAST(n_1 AS DOUBLE) AS p_1,
        |     CAST(x_0 + x_1 AS DOUBLE) / CAST(n_0 + n_1 AS DOUBLE) AS pp
        |   FROM g),
        | z AS (SELECT n_0, x_0, n_1, x_1, p_0, p_1,
        |     CASE WHEN sqrt(pp * (1.0 - pp)
        |         * (1.0 / CAST(n_0 AS DOUBLE) + 1.0 / CAST(n_1 AS DOUBLE)))
        |         > 0
        |       THEN (p_1 - p_0) / sqrt(pp * (1.0 - pp)
        |         * (1.0 / CAST(n_0 AS DOUBLE) + 1.0 / CAST(n_1 AS DOUBLE)))
        |       ELSE 0.0e0 END AS z
        |   FROM s)
        | SELECT n_0, x_0, n_1, x_1, p_0, p_1, z,
        |   (abs(z) > 1.959964)::INT AS significant
        | FROM z""".stripMargin),

    // Poisson bootstrap (Chamandy et al.): 32 bootstrap replicates of
    // the corpus mean token count in ONE pass — per-(doc, replicate)
    // md5 uniforms through the shared Poisson(1) CDF ladder; every
    // weight and mean replays bit-for-bit in DuckDB.
    QueryCase("q_bootstrap", ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Stats.poissonBootstrap(d, "doc_id", "n_tokens", replicates = 32)
        .presented("replicate")
    }),
      s"""WITH d AS (SELECT doc_id, len($tokensSql) AS v FROM documents),
         | x AS (SELECT doc_id, v, r FROM d, range(0, 32) t(r)),
         | u0 AS (SELECT r, v,
         |     CAST(('0x' || substr(md5(doc_id::VARCHAR || '-'
         |         || r::VARCHAR || '-boot'), 1, 13)) AS BIGINT)
         |       / 4503599627370496.0 AS u
         |   FROM x),
         | w AS (SELECT r, v,
         |     ${graft.ops.Stats.PoissonCdf.map(c =>
             s"(CASE WHEN u >= $c THEN 1 ELSE 0 END)").mkString("\n         |       + ")} AS w
         |   FROM u0),
         | g AS (SELECT r AS replicate, CAST(sum(w) AS BIGINT) AS n_eff,
         |     CAST(sum(w * v) AS BIGINT) AS total FROM w GROUP BY r)
         | SELECT replicate, n_eff, total,
         |   CASE WHEN n_eff > 0
         |     THEN CAST(total AS DOUBLE) / CAST(n_eff AS DOUBLE)
         |     ELSE 0.0e0 END AS mean
         | FROM g ORDER BY replicate""".stripMargin),

    // TextRank keywords: integer PageRank over the (vocab-bounded)
    // adjacent-word co-occurrence graph, top-30 — the oracle rebuilds
    // the same edge set and unrolls the 3 fixed-point iterations.
    QueryCase("q_textrank", ((s, dir) =>
      TextSearch.textRankKeywords(t(s, dir, "documents"), "text",
        topK = 30, iters = 3)),
      {
      val steps = (1 to 3).map { i =>
        s""",
           | r$i AS MATERIALIZED (SELECT n.id,
           |     157286 + (17 * coalesce(m.m, 0)) // 20 AS rank
           |   FROM n LEFT JOIN (
           |     SELECT e.dst AS id, CAST(sum(r.rank // od.od) AS BIGINT)
           |       AS m
           |     FROM e JOIN od ON e.src = od.src
           |       JOIN r${i - 1} r ON e.src = r.id
           |     GROUP BY e.dst) m ON n.id = m.id)""".stripMargin
      }.mkString
      s"""WITH tk AS (SELECT $tokensSql AS t FROM documents),
         | pr0 AS (SELECT DISTINCT least(g[1], g[2]) AS a,
         |     greatest(g[1], g[2]) AS b FROM (
         |     SELECT unnest([[t[i], t[i+1]] for i in range(1, len(t))])
         |       AS g FROM tk)),
         | pr AS (SELECT a, b FROM pr0 WHERE a <> b),
         | e AS MATERIALIZED (SELECT a AS src, b AS dst FROM pr
         |   UNION ALL SELECT b, a FROM pr),
         | n AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),
         | od AS MATERIALIZED (SELECT src, count(*) AS od FROM e
         |   GROUP BY src),
         | r0 AS MATERIALIZED (SELECT id, CAST(1048576 AS BIGINT) AS rank
         |   FROM n)$steps
         | SELECT id AS word, CAST(rank AS BIGINT) AS rank FROM r3
         | ORDER BY rank DESC, word LIMIT 30""".stripMargin
    }),

    // KWIC concordance for the term "table" (window 3): one row per
    // occurrence with rendered left/right context — the search-result
    // snippet view, byte-replayed by the oracle.
    QueryCase("q_kwic", ((s, dir) =>
      TextSearch.kwic(t(s, dir, "documents"), "doc_id", "text",
          term = "table", window = 3)
        .presented("doc_id", "pos")),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
         | o AS (SELECT doc_id, t,
         |     unnest([i for i in range(1, len(t) + 1) if t[i] = 'table'])
         |       AS i
         |   FROM tk)
         | SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |   coalesce(array_to_string(
         |     list_slice(t, greatest(i - 3, 1), i - 1), ' '), '')
         |     AS left_ctx,
         |   'table' AS hit,
         |   coalesce(array_to_string(list_slice(t, i + 1, i + 3), ' '), '')
         |     AS right_ctx
         | FROM o ORDER BY doc_id, pos""".stripMargin),

    // Filter-cascade attrition funnel over the Gopher rules: documents
    // charge their FIRST failing stage, so stage counts tile the corpus
    // exactly. One pass + a bounded grouped table; the oracle replays
    // the same first-fail CASE chain and cumulative funnel.
    QueryCase("q_filter_cascade", ((s, dir) => {
      val g = TextAnalysis.gopherFilter(t(s, dir, "documents"),
        "doc_id", "text", minWords = 20, maxWords = 10000,
        minMeanLen = 3.0, maxMeanLen = 10.0, minAlphaFrac = 0.8,
        minStopHits = 1)
      Curation.filterCascade(g, "doc_id", Seq(
        "word_count" -> (col("n_words") >= 20 && col("n_words") <= 10000),
        "mean_word_len" -> (col("mean_word_len") >= 3.0 &&
          col("mean_word_len") <= 10.0),
        "alpha_words" -> (col("alpha_word_frac") >= 0.8),
        "stopwords" -> (col("stop_hits") >= 1)))
        .presented("stage_idx")
    }),
      s"""WITH m AS (SELECT len(t) AS n_words,
         |     coalesce(CAST(list_sum(list_transform(t, x -> length(x)))
         |       AS DOUBLE), 0) / greatest(len(t), 1) AS mwl,
         |     len(list_filter(t, x -> regexp_matches(x, '\\p{L}')))::DOUBLE
         |       / greatest(len(t), 1) AS awf,
         |     len(list_intersect(t,
         |       ${sqlList(TextAnalysis.StopwordProfiles("en"))})) AS sh
         |   FROM (SELECT $tokensSql AS t FROM documents)),
         | f AS (SELECT CASE
         |     WHEN NOT (n_words >= 20 AND n_words <= 10000) THEN 1
         |     WHEN NOT (mwl >= 3.0 AND mwl <= 10.0) THEN 2
         |     WHEN NOT (awf >= 0.8) THEN 3
         |     WHEN NOT (sh >= 1) THEN 4 ELSE 0 END AS ff FROM m),
         | c AS (SELECT ff, count(*) AS n FROM f GROUP BY ff),
         | st AS (SELECT * FROM (VALUES (1, 'word_count'),
         |     (2, 'mean_word_len'), (3, 'alpha_words'),
         |     (4, 'stopwords')) t(stage_idx, stage)),
         | j AS (SELECT stage_idx, stage, coalesce(n, 0) AS n_dropped
         |   FROM st LEFT JOIN c ON c.ff = st.stage_idx),
         | w AS (SELECT stage_idx, stage, n_dropped,
         |     CAST((SELECT count(*) FROM f)
         |       - coalesce(sum(n_dropped) OVER (ORDER BY stage_idx
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |       AS BIGINT) AS n_in
         |   FROM j)
         | SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage, n_in,
         |   CAST(n_dropped AS BIGINT) AS n_dropped,
         |   n_in - n_dropped AS n_out
         | FROM w ORDER BY stage_idx""".stripMargin),

    // C4-style corpus boilerplate spans: per-doc count of word 3-grams
    // shared with ≥3 documents — exact oracle rebuilds the span frequency
    // table in SQL.
    QueryCase("q_boilerplate_spans", ((s, dir) =>
      Dedup.repeatedSpans(t(s, dir, "documents"), "doc_id", "text",
        shingleK = 3, minDocs = 3)
        .presented("doc_id")),
      s"""WITH d AS (SELECT doc_id, $tokensSql AS t FROM documents),
         | g AS (SELECT doc_id, list_distinct(
         |     [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS gs
         |   FROM d),
         | e AS (SELECT doc_id, unnest(gs) AS g FROM g),
         | b AS (SELECT g FROM e GROUP BY g HAVING count(*) >= 3),
         | p AS (SELECT doc_id, count(*) AS nb FROM e JOIN b USING (g) GROUP BY doc_id)
         | SELECT g.doc_id, len(g.gs) AS n_spans,
         |   coalesce(p.nb, 0) AS n_boiler_spans,
         |   coalesce(p.nb, 0)::DOUBLE / greatest(len(g.gs), 1) AS boiler_frac
         | FROM g LEFT JOIN p USING (doc_id)
         | ORDER BY doc_id""".stripMargin),

    // Boilerplate REMOVAL (the action q_boilerplate_spans measures) — exact
    // oracle: DuckDB recomputes position-level span coverage from strings
    // where the operator uses position-indexed gram hashes.
    QueryCase("q_remove_boilerplate", ((s, dir) =>
      Dedup.removeBoilerplate(t(s, dir, "documents"), "doc_id", "text",
        shingleK = 3, minDocs = 3)
        .presented("doc_id")),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |   g AS (SELECT doc_id, unnest(
         |       [{'p': i, 'gr': t[i] || ' ' || t[i+1] || ' ' || t[i+2]}
         |        for i in range(1, len(t) - 1)], recursive := true)
         |     FROM tk),
         |   b AS (SELECT gr FROM (SELECT DISTINCT doc_id, gr FROM g)
         |     GROUP BY gr HAVING count(*) >= 3),
         |   cp AS (SELECT DISTINCT doc_id, unnest([p, p + 1, p + 2]) AS c
         |     FROM g JOIN b USING (gr)),
         |   cov AS (SELECT doc_id, list(c) AS cov FROM cp GROUP BY doc_id)
         | SELECT tk.doc_id, len(t) AS n_tokens,
         |   coalesce(len(cov), 0) AS n_removed,
         |   coalesce(array_to_string([t[i] for i in range(1, len(t) + 1)
         |     if NOT list_contains(coalesce(cov, []), i)], ' '), '')
         |     AS cleaned_text
         | FROM tk LEFT JOIN cov USING (doc_id)
         | ORDER BY doc_id""".stripMargin),

    // BM25 ranked search: narrow per-term tf + one broadcast stats row +
    // k-bounded TakeOrderedAndProject. Oracle compares the RANKING (exact
    // integers) — operator and SQL are generated from the same term list and
    // parameters (TextSearch.bm25RankOracleSql); the raw score is excluded
    // because Math.log and DuckDB ln differ by 1 ulp on some idf arguments
    // (score VALUES are pinned by TextSearchSpec instead).
    QueryCase("q_bm25", ((s, dir) =>
      TextSearch.bm25RankedTopK(t(s, dir, "documents"), "doc_id", "text",
        Bm25Terms, k = 20)),
      TextSearch.bm25RankOracleSql("documents", "doc_id", tokensSql, Bm25Terms, k = 20)),

    // Benchmark decontamination: every 25th document plays the eval set,
    // the rest the training corpus. Exact oracle: DuckDB rebuilds the
    // distinct-3-gram intersection counts from raw text (string sets vs the
    // engine's 64-bit shingle hashes — same collision argument as
    // q_ngram_jaccard).
    QueryCase("q_decontaminate", ((s, dir) => {
      val d = t(s, dir, "documents")
      Curation.decontaminate(
        d.where(col("doc_id") % 25 =!= 0), "doc_id", "text",
        d.where(col("doc_id") % 25 === 0), "doc_id", "text",
        k = 3, minShared = 2)
        .presented("doc_id", "bench_id")
    }),
      s"""WITH sh AS (SELECT doc_id, $shingleSetSql AS s
         |     FROM (SELECT doc_id, $tokensSql AS t FROM documents)),
         |   tr AS (SELECT * FROM sh WHERE doc_id % 25 <> 0),
         |   be AS (SELECT * FROM sh WHERE doc_id % 25 = 0)
         | SELECT tr.doc_id AS doc_id, be.doc_id AS bench_id,
         |   len(list_intersect(tr.s, be.s)) AS n_shared
         | FROM tr, be
         | WHERE len(list_intersect(tr.s, be.s)) >= 2
         | ORDER BY doc_id, bench_id""".stripMargin),

    // Bloom-sketch decontamination digest — the ZERO-SHUFFLE scale path of
    // q_decontaminate (bench side folds once into Spark's own
    // BloomFilterAggregate; the training corpus is a narrow scan filtered
    // against the literal sketch — no explode, no join, no shuffle). The
    // sketch bits are hash-family-specific, so the oracle pins what IS
    // engine-independent: train-doc count, the EXACT contaminated-doc
    // count (DuckDB recomputes the distinct shingle intersections), and
    // the one-sided-error bit — might_contain has no false negatives, so
    // every exactly-flagged doc must be bloom-flagged; the in-job exact
    // join proves it and DuckDB asserts the literal 1 (the recall_pass
    // pattern).
    QueryCase("q_bloom_decontaminate", ((s, dir) => {
      val d = t(s, dir, "documents")
      val train = d.where(col("doc_id") % 25 =!= 0)
      val bench = d.where(col("doc_id") % 25 === 0)
      val bd = Curation.bloomDecontaminate(train, "doc_id", "text",
        bench, "text", k = 3)
      val exact = Curation.decontaminate(train, "doc_id", "text",
          bench, "doc_id", "text", k = 3, minShared = 1)
        .select(col("doc_id")).distinct().withColumn("__ex", lit(1))
      bd.join(exact, Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_train"),
          coalesce(sum(col("__ex")), lit(0)).cast("long").as("n_exact_flagged"),
          (lit(1) - max(when(col("__ex") === 1 && col("clean") === 1, 1)
            .otherwise(0))).as("no_false_neg"))
    }),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
         | sh AS (SELECT doc_id, $shingleSetSql AS s FROM tk),
         | tr AS (SELECT * FROM sh WHERE doc_id % 25 <> 0),
         | be AS (SELECT * FROM sh WHERE doc_id % 25 = 0),
         | fl AS (SELECT DISTINCT tr.doc_id FROM tr, be
         |        WHERE len(list_intersect(tr.s, be.s)) >= 1)
         | SELECT (SELECT count(*) FROM tr) AS n_train,
         |   (SELECT count(*) FROM fl) AS n_exact_flagged,
         |   1 AS no_false_neg""".stripMargin),

    // DSIR importance scores: src2 documents play the in-domain target,
    // the rest the raw pool. Exact oracle: the per-slot λ table and the
    // per-doc integer score sums are engine-independent (exact-int64 ratio
    // terms into one ln per slot; see Curation.dsirScore's policy note).
    QueryCase("q_dsir_score", ((s, dir) => {
      val d = t(s, dir, "documents")
      Curation.dsirScore(
        d.where(col("source") =!= "src2"),
        d.where(col("source") === "src2"),
        "doc_id", "text")
        .presented("doc_id")
    }),
      s"""WITH tk AS (SELECT doc_id, source, $tokensSql AS t FROM documents),
         | gr AS (SELECT doc_id, source, unnest(t) AS g FROM tk
         |   UNION ALL
         |   SELECT doc_id, source,
         |     unnest(list_transform(range(1, len(t)),
         |       i -> t[i] || ' ' || t[i + 1])) AS g
         |   FROM tk),
         | b AS (SELECT doc_id, source,
         |     CAST(('0x' || substr(md5(g), 1, 13)) AS BIGINT) % 1024 AS bk
         |   FROM gr),
         | tb AS (SELECT bk, count(*) AS t FROM b WHERE source = 'src2'
         |   GROUP BY bk),
         | rb AS (SELECT bk, count(*) AS r FROM b WHERE source <> 'src2'
         |   GROUP BY bk),
         | tot AS (SELECT
         |     (SELECT count(*) FROM b WHERE source = 'src2') AS tt,
         |     (SELECT count(*) FROM b WHERE source <> 'src2') AS rr),
         | lam AS (SELECT u.bk,
         |     CAST(round(1000000.0 * ln(
         |       CAST((coalesce(tb.t, 0) + 1) * (tot.rr + 1024) AS DOUBLE) /
         |       CAST((coalesce(rb.r, 0) + 1) * (tot.tt + 1024) AS DOUBLE)))
         |       AS BIGINT) AS lam
         |   FROM (SELECT unnest(range(0, 1024)) AS bk) u
         |   LEFT JOIN tb USING (bk) LEFT JOIN rb USING (bk), tot),
         | sc AS (SELECT b.doc_id, count(*) AS n_grams,
         |     CAST(sum(l.lam) AS BIGINT) AS dsir_score
         |   FROM b JOIN lam l USING (bk) WHERE b.source <> 'src2'
         |   GROUP BY b.doc_id)
         | SELECT tk.doc_id, coalesce(sc.n_grams, 0) AS n_grams,
         |   coalesce(sc.dsir_score, 0) AS dsir_score
         | FROM tk LEFT JOIN sc USING (doc_id) WHERE tk.source <> 'src2'
         | ORDER BY tk.doc_id""".stripMargin),

    // Trainable linear quality probe on a PLANTED signal (docs mentioning
    // 'spark', 385/500 at sf0.01 — the probe must discover the predictive
    // buckets from gradients alone). Full-batch fixed-point GD
    // (2 iterations) — training is bit-deterministic, so the oracle
    // unrolls the loop and the final integer scores hash-match.
    QueryCase("q_quality_probe", ((s, dir) =>
      Curation.linearProbe(
        t(s, dir, "documents")
          .withColumn("is_tgt", col("text").contains("spark")),
        "doc_id", "text", "is_tgt")
        .presented("doc_id")),
      probeOracleSql(1024, 4)),

    // Active-learning uncertainty sampling: the 25 documents whose probe
    // score sits closest to the decision boundary (|score| smallest) —
    // the label-next batch an annotation loop requests. Composes the
    // deterministic probe with the k-bounded top-k aggregate (a
    // corpus-wide ORDER BY abs(score) would global-sort); the oracle
    // chains the unrolled probe SQL with the same ranking.
    QueryCase("q_uncertainty_sample", ((s, dir) => {
      val scored = Curation.linearProbe(
        t(s, dir, "documents")
          .withColumn("is_tgt", col("text").contains("spark")),
        "doc_id", "text", "is_tgt")
      scored.agg(graft.functions.TopKByScore.topk_by_score(
          (-abs(col("score"))).cast("double"), col("doc_id"), 25).as("__t"))
        .select(posexplode(col("__t")).as(Seq("pos", "e")))
        .select((col("pos") + 1).cast("int").as("rank"),
          col("e.id").as("doc_id"),
          (-col("e.score")).cast("long").as("abs_score"))
    }),
      s"""SELECT rank, doc_id, abs_score FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY abs(score), doc_id)
         |      AS INT) AS rank,
         |    doc_id, abs(score) AS abs_score
         |  FROM (${probeOracleSql(1024, 4)}) q)
         | WHERE rank <= 25 ORDER BY rank""".stripMargin),

    // C4 cleaning audit. The raw synthetic docs carry no punctuation, so the
    // query augments them deterministically (doc_id-keyed tails) to exercise
    // every rule; the oracle applies the IDENTICAL augmentation in SQL.
    // "dup" as the bad word hits ~5% of documents.
    QueryCase("q_c4_filter", ((s, dir) => {
      val aug = concat(col("text"),
        when(col("doc_id") % 11 === 0, lit(" lorem ipsum")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" { brace }")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit(". tail one. tail two. tail three."))
          .otherwise(lit(" open end")))
      Curation.c4Filter(
        t(s, dir, "documents").select(col("doc_id"), aug.as("text")),
        "doc_id", "text", badWords = Seq("dup"),
        minSentences = 3, minLineWords = 5)
        .presented("doc_id")
    }),
      s"""SELECT doc_id, n_lines, n_kept_lines, n_sentences, has_lorem,
         |   has_brace, has_badword,
         |   (n_kept_lines > 0 AND n_sentences >= 3 AND has_lorem = 0
         |     AND has_brace = 0 AND has_badword = 0)::INT AS keep
         | FROM (
         |   SELECT doc_id,
         |     len(string_split(text, chr(10))) AS n_lines,
         |     len(list_filter(string_split(text, chr(10)), l ->
         |       (ends_with(rtrim(l), '.') OR ends_with(rtrim(l), '!')
         |         OR ends_with(rtrim(l), '?') OR ends_with(rtrim(l), '"'))
         |       AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5))
         |       AS n_kept_lines,
         |     len(regexp_extract_all(text, '[.!?]')) AS n_sentences,
         |     contains(lower(text), 'lorem ipsum')::INT AS has_lorem,
         |     contains(text, '{')::INT AS has_brace,
         |     (len(list_intersect($tokensSql, ['dup'])) > 0)::INT AS has_badword
         |   FROM (SELECT doc_id, text
         |       || (CASE WHEN doc_id % 11 = 0 THEN ' lorem ipsum' ELSE '' END)
         |       || (CASE WHEN doc_id % 7 = 0 THEN ' { brace }' ELSE '' END)
         |       || (CASE WHEN doc_id % 3 = 0
         |             THEN '. tail one. tail two. tail three.'
         |             ELSE ' open end' END) AS text
         |     FROM documents))
         | ORDER BY doc_id""".stripMargin),

    // Text normalization (NFC + control strip + space collapse) — exact
    // oracle: DuckDB's nfc_normalize is the same Unicode NFC; the ASCII
    // corpus is augmented (doc_id-keyed) with combining marks, control
    // chars and space runs so every rule actually fires.
    QueryCase("q_normalize", ((s, dir) => {
      val aug = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          lit(" cafe\u0301  double  space \u0007end")).otherwise(lit(" clean tail")))
      t(s, dir, "documents")
        .select(col("doc_id"), aug.as("raw"))
        .select(col("doc_id"),
          length(col("raw")).cast("long").as("len_raw"),
          TextAnalysis.normalizeText(col("raw")).as("norm"))
        .select(col("doc_id"), col("len_raw"),
          length(col("norm")).cast("long").as("len_norm"), col("norm"))
        .presented("doc_id")
    }),
      """WITH d AS (SELECT doc_id, text ||
        |     (CASE WHEN doc_id % 5 = 0
        |       THEN ' cafe' || chr(769) || '  double  space ' || chr(7) || 'end'
        |       ELSE ' clean tail' END) AS raw FROM documents)
        | SELECT doc_id, length(raw) AS len_raw, length(norm) AS len_norm, norm
        | FROM (SELECT doc_id, raw,
        |     trim(regexp_replace(regexp_replace(nfc_normalize(raw),
        |       '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |       '[ \t]+', ' ', 'g')) AS norm
        |   FROM d)
        | ORDER BY doc_id""".stripMargin),

    // Reproducible train/valid/test split via md5-hex draws — exact oracle:
    // DuckDB recomputes the identical draw and thresholds (generated from
    // the same Curation.hexThreshold constants).
    QueryCase("q_sample_split", ((s, dir) =>
      Curation.splitCorpus(t(s, dir, "documents"), "doc_id", SplitFracs)
        .presented("doc_id")),
      {
      val draw = "substr(md5(doc_id::VARCHAR || '-graft'), 1, 8)"
      val cum = SplitFracs.map(_._2).scanLeft(0.0)(_ + _).tail
      val cases = SplitFracs.init.zip(cum.init).map { case ((label, _), hi) =>
        s"WHEN $draw < '${Curation.hexThreshold(hi)}' THEN '$label'"
      }.mkString(" ")
      s"""SELECT doc_id, $draw AS draw,
         |   CASE $cases ELSE '${SplitFracs.last._1}' END AS split
         | FROM documents ORDER BY doc_id""".stripMargin
    }),

    // Corpus mixing (per-source keep probabilities) — exact oracle, same
    // generated thresholds.
    // Deterministic epoch shuffle: the epoch-1 training permutation as
    // (bucket, pos) — 256 independent sorted hash buckets whose
    // concatenation is the order; no global sort. REAL oracle: DuckDB
    // replays the salted md5 draws, hex bucket, and within-bucket ranks.
    QueryCase("q_corpus_shuffle", ((s, dir) =>
      Curation.epochShuffle(t(s, dir, "documents"), "doc_id", epoch = 1)
        .select(col("doc_id"), col("draw"), col("bucket").cast("long").as("bucket"),
          col("pos"))
        .presented("bucket", "pos")),
      """WITH d AS (SELECT doc_id,
        |     substr(md5(doc_id::VARCHAR || '-graft-e1'), 1, 8) AS draw
        |   FROM documents),
        | b AS (SELECT doc_id, draw,
        |     CAST((strpos('0123456789abcdef', substr(draw, 1, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(draw, 2, 1)) - 1) AS BIGINT)
        |       AS bucket
        |   FROM d)
        | SELECT doc_id, draw, bucket,
        |   CAST(row_number() OVER (PARTITION BY bucket ORDER BY draw, doc_id)
        |     AS BIGINT) AS pos
        | FROM b ORDER BY bucket, pos""".stripMargin),

    // Temperature-scaled domain mixing over the (skewed) language shards:
    // integerized sqrt weights make the rate table engine-exact, and the
    // oracle replays weights, rates, thresholds, and md5 verdicts.
    QueryCase("q_temperature_mix", ((s, dir) =>
      Curation.temperatureMix(t(s, dir, "documents"), "doc_id", "lang",
          budget = 250, temperature = 2.0)
        .presented("doc_id")),
      {
      val draw = "substr(md5(doc_id::VARCHAR || '-graft'), 1, 8)"
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        | w AS (SELECT lang, c,
        |     CAST(floor(sqrt(CAST(c AS DOUBLE)) * 65536) AS BIGINT) AS w FROM c),
        | s AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM w),
        | r AS (SELECT lang,
        |     least(1.0, CAST(250 * w AS DOUBLE) / CAST(sw * c AS DOUBLE)) AS rate
        |   FROM w, s),
        | th AS (SELECT lang,
        |     CASE WHEN floor(rate * 4294967296.0 + 0.5) >= 4294967296.0 THEN 'g'
        |          ELSE printf('%08x', CAST(floor(rate * 4294967296.0 + 0.5) AS BIGINT))
        |     END AS thr FROM r)
        | SELECT d.doc_id, d.lang AS shard, DRAW AS draw,
        |   (DRAW < th.thr)::INT AS keep
        | FROM documents d JOIN th ON d.lang = th.lang
        | ORDER BY d.doc_id""".stripMargin.replace("DRAW", draw)
    }),

    QueryCase("q_mix", ((s, dir) =>
      Curation.mixCorpus(t(s, dir, "documents"), "doc_id", "source",
        MixWeights, default = 1.0)
        .presented("doc_id")),
      {
      val draw = "substr(md5(doc_id::VARCHAR || '-graft'), 1, 8)"
      val cases = MixWeights.toSeq.sortBy(_._1).map { case (src, w) =>
        s"WHEN source = '$src' THEN '${Curation.hexThreshold(w)}'"
      }.mkString(" ")
      s"""SELECT doc_id, source, $draw AS draw,
         |   ($draw < CASE $cases ELSE '${Curation.hexThreshold(1.0)}' END)::INT
         |     AS keep
         | FROM documents ORDER BY doc_id""".stripMargin
    }),

    // Deterministic weighted sampling (Efraimidis–Spirakis keys from hash
    // uniforms — no RNG, pure function of id/salt/weights): top-100 docs
    // under per-source weights derived from the source suffix. Exact
    // oracle on the SELECTED ROWS (DuckDB recomputes the identical keys;
    // key doubles excluded — libm pow may differ in the last ulp).
    // Deterministic mask/drop token corruption (denoising-style
    // augmentation): every per-(doc, position) decision is an md5 draw,
    // so the oracle replays the ENTIRE corrupted corpus string-for-
    // string — the auditable augmentation a 100 TB epoch pipeline needs.
    QueryCase("q_augment", ((s, dir) =>
      Curation.augmentTokens(t(s, dir, "documents"), "doc_id", "text",
          pMask = 0.1, pDrop = 0.1, salt = "aug")
        .presented("doc_id")),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
         | a AS (SELECT doc_id, [struct_pack(
         |       tok := t[i],
         |       u := CAST(('0x' || substr(md5(doc_id::VARCHAR || '-'
         |           || (i - 1)::VARCHAR || '-aug'), 1, 13)) AS BIGINT)
         |         / 4503599627370496.0)
         |     for i in range(1, len(t) + 1)] AS arr
         |   FROM tk)
         | SELECT doc_id, len(arr) AS n_tokens,
         |   len([s for s in arr if s.u < 0.1e0]) AS n_masked,
         |   len([s for s in arr if s.u >= 0.1e0 AND s.u < 0.2e0])
         |     AS n_dropped,
         |   array_to_string([CASE WHEN s.u < 0.1e0 THEN '<mask>'
         |       ELSE s.tok END
         |     for s in arr if NOT (s.u >= 0.1e0 AND s.u < 0.2e0)], ' ')
         |     AS aug_text
         | FROM a ORDER BY doc_id""".stripMargin),

    QueryCase("q_weighted_sample", ((s, dir) =>
      Curation.weightedSample(t(s, dir, "documents"), "doc_id",
          lit(1.0) + substring(col("source"), 4, 10).cast("int") * lit(0.5),
          k = 100)
        .select(col("doc_id"), col("source"))
        .presented("doc_id")),
      """WITH w AS (SELECT doc_id, source,
        |     power(CAST(('0x' || substr(md5(doc_id::VARCHAR || '-graft-ws'),
        |             1, 13)) AS BIGINT) / 4503599627370496.0,
        |       1.0 / (1.0 + CAST(substr(source, 4) AS INT) * 0.5)) AS k
        |   FROM documents)
        | SELECT doc_id, source FROM (
        |   SELECT doc_id, source FROM w ORDER BY k DESC, doc_id LIMIT 100)
        | ORDER BY doc_id""".stripMargin),

    // Token-budget mixture sampling: 2000 tokens per source, A-ES uniform
    // priority — exact oracle recomputes the same keys, running sums, and
    // the start-offset keep rule.
    QueryCase("q_budget_sample", ((s, dir) =>
      Curation.budgetSample(t(s, dir, "documents"), "source", "doc_id",
          "text", tokenBudget = 2000L)
        .presented("source", "doc_id")),
      s"""WITH w AS (SELECT source, doc_id, len($tokensSql) AS n_tokens,
         |     power(CAST(('0x' || substr(md5(doc_id::VARCHAR || '-graft-ws'),
         |             1, 13)) AS BIGINT) / 4503599627370496.0, 1.0) AS k
         |   FROM documents),
         | c AS (SELECT source, doc_id, n_tokens,
         |     CAST(sum(n_tokens) OVER (PARTITION BY source
         |         ORDER BY k DESC, doc_id) AS BIGINT) - n_tokens AS start_off
         |   FROM w)
         | SELECT source, doc_id, n_tokens, start_off,
         |   (start_off < 2000)::INT AS kept
         | FROM c ORDER BY source, doc_id""".stripMargin),

    // UniMax language sampling: ascending-capacity water-filling of a
    // token budget under a 2-epoch cap, then per-language full-epochs +
    // draw-ordered partial admission. ALL integer arithmetic — the oracle
    // replays the allocation loop as a recursive CTE and the admission
    // with the budgetSample md5 chain.
    QueryCase("q_unimax_mix", ((s, dir) =>
      Curation.unimaxMix(t(s, dir, "documents"), "doc_id", "lang", "text",
          tokenBudget = 25000L, maxEpochs = 2)
        .presented("doc_id")),
      s"""WITH RECURSIVE sizes AS (SELECT lang,
         |     CAST(sum(len($tokensSql)) AS BIGINT) AS n
         |   FROM documents GROUP BY lang),
         | ord AS (SELECT lang, n, n * 2 AS cap,
         |     CAST(row_number() OVER (ORDER BY n * 2, lang) AS BIGINT) AS rn,
         |     CAST(count(*) OVER () AS BIGINT) AS cnt
         |   FROM sizes),
         | alloc AS (
         |   SELECT CAST(0 AS BIGINT) AS rn, CAST(25000 AS BIGINT) AS b,
         |     CAST(0 AS BIGINT) AS q
         |   UNION ALL
         |   SELECT o.rn, a.b - least(o.cap, a.b // (o.cnt - o.rn + 1)),
         |     least(o.cap, a.b // (o.cnt - o.rn + 1))
         |   FROM alloc a JOIN ord o ON o.rn = a.rn + 1),
         | quota AS (SELECT o.lang, al.q AS lang_quota,
         |     CASE WHEN o.n = 0 THEN 0 ELSE al.q // o.n END AS n_full_epochs,
         |     CASE WHEN o.n = 0 THEN 0 ELSE al.q % o.n END AS rpart
         |   FROM alloc al JOIN ord o USING (rn) WHERE al.rn >= 1),
         | w AS (SELECT doc_id, lang, CAST(len($tokensSql) AS BIGINT) AS n_tokens,
         |     CAST(('0x' || substr(md5(doc_id::VARCHAR || '-graft-ws'),
         |         1, 13)) AS BIGINT) / 4503599627370496.0 AS k
         |   FROM documents),
         | c AS (SELECT doc_id, lang, n_tokens,
         |     CAST(sum(n_tokens) OVER (PARTITION BY lang
         |         ORDER BY k DESC, doc_id) AS BIGINT) - n_tokens AS start_off
         |   FROM w)
         | SELECT c.doc_id, c.lang, c.n_tokens, quota.lang_quota,
         |   quota.n_full_epochs, (c.start_off < quota.rpart)::INT AS kept_partial
         | FROM c JOIN quota USING (lang) ORDER BY doc_id""".stripMargin),

    // Corpus n-gram diversity (distinct-n): the mode-collapse gauge for
    // synthetic-data batches. Exact oracle: DuckDB counts gram STRINGS
    // where the engine counts 64-bit gram hashes (collision mass ~1e-10,
    // the q_dup_spans convention).
    QueryCase("q_diversity", ((s, dir) =>
      TextAnalysis.diversityProfile(t(s, dir, "documents"), "text")
        .presented("n")),
      Seq(1, 2, 3).map { n =>
      s"""SELECT $n AS n, count(*) AS total_grams,
         |   count(DISTINCT gram) AS distinct_grams,
         |   count(DISTINCT gram)::DOUBLE / greatest(count(*), 1)
         |     AS distinct_ratio
         | FROM (SELECT array_to_string(list_slice(t, i, i + ${n - 1}), ' ')
         |     AS gram
         |   FROM (SELECT t, unnest(range(1, len(t) - ${n - 2})) AS i
         |     FROM (SELECT $tokensSql AS t FROM documents)
         |     WHERE len(t) >= $n))""".stripMargin
    }.mkString("", " UNION ALL ", " ORDER BY n")),

    // Unicode script-mix audit: per-doc char mass per script class +
    // the mixed-script bit (homoglyph spam / wrong-script boilerplate).
    // Non-Latin traffic is id-synthesized by appending per-script
    // suffixes (the q_pagerank fixture convention), so every class
    // carries oracle mass; the classification ranges are explicit
    // codepoint arithmetic both engines share.
    QueryCase("q_script_mix", ((s, dir) =>
      TextAnalysis.scriptProfile(
        t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 7 === 0, lit(" привет мир"))
              .when(col("doc_id") % 7 === 1, lit(" αβγ δε"))
              .when(col("doc_id") % 7 === 2, lit(" 中文 テスト"))
              .when(col("doc_id") % 7 === 3, lit(" مرحبا"))
              .when(col("doc_id") % 7 === 4, lit(" naïve café"))
              .otherwise(lit(""))).as("text")),
        "doc_id", "text")
        .presented("doc_id")),
      // Script-mix replay: identical suffix injection, per-char codepoint
      // classification over the same explicit ranges, ASCII whitespace
      // (9–13, 32) excluded.
      """WITH d AS (SELECT doc_id, text ||
        |     CASE CAST(doc_id % 7 AS INT)
        |       WHEN 0 THEN ' привет мир' WHEN 1 THEN ' αβγ δε'
        |       WHEN 2 THEN ' 中文 テスト' WHEN 3 THEN ' مرحبا'
        |       WHEN 4 THEN ' naïve café' ELSE '' END AS text
        |   FROM documents),
        | ch AS (SELECT doc_id, unicode(c) AS cp
        |   FROM (SELECT doc_id, unnest(regexp_split_to_array(text, ''))
        |       AS c FROM d)
        |   WHERE NOT (unicode(c) BETWEEN 9 AND 13 OR unicode(c) = 32)),
        | cl AS (SELECT doc_id,
        |     CASE
        |       WHEN (cp BETWEEN 65 AND 90) OR (cp BETWEEN 97 AND 122)
        |         OR (cp BETWEEN 192 AND 591 AND cp <> 215 AND cp <> 247)
        |         THEN 'latin'
        |       WHEN cp BETWEEN 1024 AND 1279 THEN 'cyrillic'
        |       WHEN cp BETWEEN 880 AND 1023 THEN 'greek'
        |       WHEN (cp BETWEEN 19968 AND 40959)
        |         OR (cp BETWEEN 12352 AND 12543)
        |         OR (cp BETWEEN 44032 AND 55215) THEN 'cjk'
        |       WHEN cp BETWEEN 1536 AND 1791 THEN 'arabic'
        |       WHEN cp BETWEEN 48 AND 57 THEN 'digit'
        |       ELSE 'other' END AS k
        |   FROM ch),
        | agg AS (SELECT d.doc_id,
        |     count(cl.k) AS n_chars,
        |     coalesce(sum(CASE WHEN k = 'latin' THEN 1 END), 0) AS latin,
        |     coalesce(sum(CASE WHEN k = 'cyrillic' THEN 1 END), 0)
        |       AS cyrillic,
        |     coalesce(sum(CASE WHEN k = 'greek' THEN 1 END), 0) AS greek,
        |     coalesce(sum(CASE WHEN k = 'cjk' THEN 1 END), 0) AS cjk,
        |     coalesce(sum(CASE WHEN k = 'arabic' THEN 1 END), 0) AS arabic,
        |     coalesce(sum(CASE WHEN k = 'digit' THEN 1 END), 0) AS digit,
        |     coalesce(sum(CASE WHEN k = 'other' THEN 1 END), 0) AS other
        |   FROM d LEFT JOIN cl ON cl.doc_id = d.doc_id GROUP BY d.doc_id)
        | SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |   CAST(latin AS BIGINT) AS latin,
        |   CAST(cyrillic AS BIGINT) AS cyrillic,
        |   CAST(greek AS BIGINT) AS greek, CAST(cjk AS BIGINT) AS cjk,
        |   CAST(arabic AS BIGINT) AS arabic,
        |   CAST(digit AS BIGINT) AS digit, CAST(other AS BIGINT) AS other,
        |   CAST((latin > 0)::INT + (cyrillic > 0)::INT + (greek > 0)::INT
        |     + (cjk > 0)::INT + (arabic > 0)::INT AS INT) AS n_scripts,
        |   CAST(((latin > 0)::INT + (cyrillic > 0)::INT + (greek > 0)::INT
        |     + (cjk > 0)::INT + (arabic > 0)::INT >= 2) AS INT) AS mixed
        | FROM agg ORDER BY doc_id""".stripMargin),

    // Self-BLEU (Zhu et al. 2018): each panel doc's modified 1/2-gram
    // precision against the rest of the corpus as references — the
    // mode-collapse probe for synthetic corpora. Exact ppm integer
    // ratios via the (max1, count-at-max, max2) leave-one-out
    // decomposition; DuckDB replays clip-by-clip.
    QueryCase("q_self_bleu", ((s, dir) =>
      TextAnalysis.selfBleu(t(s, dir, "documents"), "doc_id", "text",
          panel = col("doc_id") < 20)
        .presented("doc_id", "n")),
      // Self-BLEU replay: per-(n, gram, doc) counts, the (max1, n_at_max,
      // max2) leave-one-out reference max, clip-by-clip.
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
         | g AS (SELECT doc_id, 1 AS n, unnest(t) AS g FROM tk
         |   UNION ALL
         |   SELECT doc_id, 2 AS n,
         |     unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS g
         |   FROM tk),
         | gc AS (SELECT n, g, doc_id, count(*) AS c FROM g GROUP BY 1, 2, 3),
         | m1 AS (SELECT n, g, max(c) AS max1 FROM gc GROUP BY 1, 2),
         | st AS (SELECT gc.n, gc.g, m1.max1,
         |     sum(CASE WHEN c = max1 THEN 1 ELSE 0 END) AS n_at_max,
         |     max(CASE WHEN c < max1 THEN c END) AS max2
         |   FROM gc JOIN m1 USING (n, g) GROUP BY 1, 2, 3),
         | p AS (SELECT gc.doc_id, gc.n, gc.c,
         |     least(gc.c, CASE WHEN gc.c = st.max1 AND st.n_at_max = 1
         |       THEN coalesce(st.max2, 0) ELSE st.max1 END) AS clip
         |   FROM gc JOIN st USING (n, g) WHERE gc.doc_id < 20)
         | SELECT doc_id, CAST(n AS INT) AS n,
         |   CAST(sum(c) AS BIGINT) AS total,
         |   CAST(sum(clip) AS BIGINT) AS clipped,
         |   CAST((sum(clip) * 1000000) // sum(c) AS BIGINT) AS p_ppm
         | FROM p GROUP BY 1, 2 ORDER BY doc_id, n""".stripMargin),

    // Per-slice dataset-card profile over docsWithDupes (so n_dup_docs is
    // non-zero) — one aggregation pass, integer-exact columns.
    QueryCase("q_corpus_profile", ((s, dir) =>
      Curation.corpusProfile(docsWithDupes(s, dir), "text", "source", "lang")
        .presented("slice")),
      s"""SELECT source AS slice, count(*) AS n_docs,
         |   count(md5(text)) - count(DISTINCT md5(text)) AS n_dup_docs,
         |   CAST(sum(len($tokensSql)) AS BIGINT) AS n_tokens,
         |   CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |   count(DISTINCT lang) AS n_langs
         | FROM $docsWithDupesSql
         | GROUP BY source ORDER BY slice""".stripMargin),

    // Stratified A-ES weighted sampling: top-10 per source by the same
    // deterministic keys — the k-bounded aggregate form (no window).
    // Weight varies WITHIN each stratum (doc_id-derived) so the weighting
    // does real work per group.
    QueryCase("q_weighted_sample_group", ((s, dir) =>
      Curation.weightedSamplePerGroup(t(s, dir, "documents"), "source",
          "doc_id", lit(1.0) + (col("doc_id") % 5).cast("double") * lit(0.5),
          k = 10)
        .presented("source", "doc_id")),
      """WITH w AS (SELECT source, doc_id,
        |     power(CAST(('0x' || substr(md5(doc_id::VARCHAR || '-graft-ws'),
        |             1, 13)) AS BIGINT) / 4503599627370496.0,
        |       1.0 / (1.0 + (doc_id % 5) * 0.5)) AS k
        |   FROM documents)
        | SELECT source, doc_id FROM (
        |   SELECT source, doc_id, row_number()
        |       OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rn
        |   FROM w)
        | WHERE rn <= 10 ORDER BY source, doc_id""".stripMargin),

    // End-to-end curation pipeline — quality filter → exact dedup →
    // reproducible split → per-split counts — demonstrating the operators
    // compose; the oracle chains the IDENTICAL stages in SQL.
    QueryCase("q_pipeline", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val kept = TextAnalysis.gopherFilter(docs, "doc_id", "text",
        minWords = 20, maxWords = 10000, minMeanLen = 3.0, maxMeanLen = 10.0,
        minAlphaFrac = 0.8, minStopHits = 1)
        .where(col("keep")).select("doc_id")
      val canon = Dedup.exactDedup(docs.join(kept, "doc_id"), "doc_id", "text")
      Curation.splitCorpus(canon, "doc_id", SplitFracs)
        .groupBy("split").agg(count(lit(1)).as("n_docs"))
        .presented("split")
    }),
      {
      val draw = "substr(md5(doc_id::VARCHAR || '-graft'), 1, 8)"
      val cum = SplitFracs.map(_._2).scanLeft(0.0)(_ + _).tail
      val cases = SplitFracs.init.zip(cum.init).map { case ((label, _), hi) =>
        s"WHEN $draw < '${Curation.hexThreshold(hi)}' THEN '$label'"
      }.mkString(" ")
      s"""WITH tk AS (SELECT doc_id, text, $tokensSql AS t FROM documents),
         |   g AS (SELECT doc_id, text FROM tk WHERE
         |     len(t) >= 20 AND len(t) <= 10000
         |     AND coalesce(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE), 0)
         |       / greatest(len(t), 1) >= 3.0
         |     AND coalesce(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE), 0)
         |       / greatest(len(t), 1) <= 10.0
         |     AND len(list_filter(t, x -> regexp_matches(x, '\\p{L}')))::DOUBLE
         |       / greatest(len(t), 1) >= 0.8
         |     AND len(list_intersect(t, $enStopSql)) >= 1),
         |   c AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY md5(text)),
         |   s AS (SELECT CASE $cases ELSE '${SplitFracs.last._1}' END AS split
         |     FROM c)
         | SELECT split, count(*) AS n_docs FROM s
         | GROUP BY split ORDER BY split""".stripMargin
    }),

    // k-anonymity audit over (lang, source, coarse length bucket) — the
    // re-identification risk report for corpus metadata; exact integer
    // oracle (one grouped count + a 1-row census).
    QueryCase("q_k_anonymity", ((s, dir) =>
      Curation.kAnonymityProfile(t(s, dir, "documents"),
        Seq(col("lang"), col("source"), expr("n_chars DIV 100")), k = 5)),
      """WITH g AS (SELECT lang, source, n_chars // 100 AS b,
        |     count(*)::BIGINT AS c
        |   FROM documents GROUP BY 1, 2, 3)
        | SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |   count(*)::BIGINT AS n_groups,
        |   CAST(min(c) AS BIGINT) AS min_group_size,
        |   CAST(coalesce(sum(CASE WHEN c < 5 THEN c END), 0) AS BIGINT)
        |     AS rows_below_k,
        |   CAST(coalesce(sum(CASE WHEN c < 5 THEN 1 END), 0) AS BIGINT)
        |     AS groups_below_k,
        |   CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 END), 0) AS BIGINT)
        |     AS singletons,
        |   CAST(CASE WHEN sum(c) > 0 THEN
        |     (coalesce(sum(CASE WHEN c < 5 THEN c END), 0) * 1000000)
        |       // sum(c) ELSE 0 END AS BIGINT) AS risk_ppm
        | FROM g""".stripMargin),

    // l-diversity audit over the same metadata: quasi = (lang, coarse
    // length bucket), sensitive = source — the attribute-disclosure
    // complement to q_k_anonymity (a k-anonymous group whose members all
    // share one source still leaks it). Exact integer census.
    QueryCase("q_l_diversity", ((s, dir) =>
      Curation.lDiversityProfile(t(s, dir, "documents"),
        Seq(col("lang"), expr("n_chars DIV 200")), col("source"), l = 3)),
      """WITH cell AS (SELECT lang, n_chars // 200 AS b, source,
        |     count(*)::BIGINT AS c
        |   FROM documents GROUP BY 1, 2, 3),
        | g AS (SELECT lang, b, sum(c)::BIGINT AS n, count(*)::BIGINT AS d
        |   FROM cell GROUP BY 1, 2)
        | SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        |   count(*)::BIGINT AS n_groups,
        |   CAST(min(d) AS BIGINT) AS min_distinct_sensitive,
        |   CAST(coalesce(sum(CASE WHEN d < 3 THEN 1 END), 0) AS BIGINT)
        |     AS groups_below_l,
        |   CAST(coalesce(sum(CASE WHEN d < 3 THEN n END), 0) AS BIGINT)
        |     AS rows_below_l,
        |   CAST(CASE WHEN sum(n) > 0 THEN
        |     (coalesce(sum(CASE WHEN d < 3 THEN n END), 0) * 1000000)
        |       // sum(n) ELSE 0 END AS BIGINT) AS risk_ppm
        | FROM g""".stripMargin),

    // t-closeness audit over (lang, source) groups vs the corpus n_chars
    // distribution — the third disclosure rung after k-anonymity and
    // l-diversity: cross-multiplied integer EMD per group (the ksTest
    // trick), group×value frame bounded by combo cardinality × the
    // knee-capped value domain.
    QueryCase("q_t_closeness", ((s, dir) =>
      Curation.tClosenessProfile(t(s, dir, "documents"),
        Seq(col("lang"), col("source")), col("n_chars"),
        tPpm = 100000L, knownBinsAtMostMax = true)),
      """WITH cells AS (SELECT lang AS q0, source AS q1, n_chars AS sv,
        |     count(*)::BIGINT AS c FROM documents GROUP BY 1, 2, 3),
        | gvals AS (SELECT sv, sum(cv) OVER (ORDER BY sv
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumq
        |   FROM (SELECT sv, sum(c)::BIGINT AS cv FROM cells GROUP BY sv)),
        | grp AS (SELECT q0, q1, sum(c)::BIGINT AS ng
        |   FROM cells GROUP BY 1, 2),
        | tot AS (SELECT sum(c)::BIGINT AS nn FROM cells),
        | crossed AS (SELECT g.q0, g.q1, g.ng, gl.sv, gl.cumq,
        |     coalesce(c.c, 0) AS c
        |   FROM grp g CROSS JOIN gvals gl
        |   LEFT JOIN cells c ON c.q0 = g.q0 AND c.q1 = g.q1
        |     AND c.sv = gl.sv),
        | pg AS (SELECT q0, q1, any_value(ng) AS ng, any_value(nn) AS nn,
        |     count(*)::BIGINT AS m,
        |     sum(abs(cumg::HUGEINT * nn - cumq::HUGEINT * ng)) AS emd
        |   FROM (SELECT q0, q1, ng, cumq,
        |       sum(c) OVER (PARTITION BY q0, q1 ORDER BY sv
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumg
        |     FROM crossed), tot GROUP BY q0, q1),
        | tg AS (SELECT ng, CASE WHEN m < 2 THEN 0
        |     ELSE (emd * 1000000) // ((m - 1) * ng::HUGEINT * nn)
        |     END AS t FROM pg),
        | res AS (SELECT sum(ng)::BIGINT AS n_rows,
        |     count(*)::BIGINT AS n_groups,
        |     CAST(max(t) AS BIGINT) AS max_t_ppm,
        |     coalesce(sum(CASE WHEN t > 100000 THEN 1 END), 0)::BIGINT
        |       AS groups_above_t,
        |     coalesce(sum(CASE WHEN t > 100000 THEN ng END), 0)::BIGINT
        |       AS rows_above_t
        |   FROM tg),
        | nv AS (SELECT count(*)::BIGINT AS n_values FROM gvals)
        | SELECT n_rows, n_groups, n_values, max_t_ppm, groups_above_t,
        |   rows_above_t,
        |   CAST(CASE WHEN n_rows > 0
        |     THEN (rows_above_t::HUGEINT * 1000000) // n_rows
        |     ELSE 0 END AS BIGINT) AS risk_ppm
        | FROM res, nv""".stripMargin),

    // Shuffle-quality audit: same-source run counts per shard vs the
    // random-permutation expectation (doc_id order, shard = doc_id % 4) —
    // exact integer oracle replays runs, key histogram and ratio.
    QueryCase("q_shuffle_audit", ((s, dir) =>
      Curation.shuffleQualityAudit(
        t(s, dir, "documents").withColumn("shard", col("doc_id") % 4),
        "shard", col("doc_id"), col("source")).presented("shard")),
      """WITH st AS (SELECT doc_id % 4 AS shard, doc_id AS o,
        |     source::VARCHAR AS k FROM documents),
        | r AS (SELECT shard, count(*) AS n,
        |     sum(CASE WHEN pk IS NULL OR pk <> k THEN 1 ELSE 0 END) AS runs
        |   FROM (SELECT shard, k,
        |       lag(k) OVER (PARTITION BY shard ORDER BY o) AS pk FROM st)
        |   GROUP BY shard),
        | m AS (SELECT shard, sum(c * (c - 1))::HUGEINT AS cc,
        |     count(*) AS n_keys
        |   FROM (SELECT shard, k, count(*)::BIGINT AS c FROM st
        |     GROUP BY 1, 2)
        |   GROUP BY shard)
        | SELECT r.shard, r.n::BIGINT AS n, m.n_keys::BIGINT AS n_keys,
        |   r.runs::BIGINT AS runs,
        |   CAST(CASE WHEN r.n::HUGEINT * r.n - m.cc <= 0 THEN 1000000
        |     ELSE (r.runs::HUGEINT * r.n * 1000000)
        |       // (r.n::HUGEINT * r.n - m.cc) END AS BIGINT) AS ratio_ppm
        | FROM r JOIN m USING (shard) ORDER BY r.shard""".stripMargin),

    // Full quantile normalization of n_chars across sources: each row's
    // score maps to the POOLED value at its within-source quantile
    // (floor interpolation). Exact oracle via DuckDB's native ASOF JOIN.
    QueryCase("q_quantile_normalize", ((s, dir) =>
      Curation.quantileNormalize(t(s, dir, "documents"), "doc_id", "source",
        col("n_chars")).presented("id")),
      """WITH st AS (SELECT doc_id AS id, source::VARCHAR AS grp,
        |     n_chars::BIGINT AS score FROM documents),
        | h AS (SELECT grp, score, count(*)::BIGINT AS c
        |   FROM st GROUP BY 1, 2),
        | rk AS (SELECT grp, score,
        |     CASE WHEN n > 1 THEN (lt * 1000000) // (n - 1) ELSE 0 END
        |       AS ppm
        |   FROM (SELECT grp, score,
        |       coalesce(sum(c) OVER (PARTITION BY grp ORDER BY score
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         AS lt,
        |       sum(c) OVER (PARTITION BY grp) AS n FROM h)),
        | ph AS (SELECT score AS pscore, count(*)::BIGINT AS c
        |   FROM st GROUP BY 1),
        | pr AS (SELECT pscore,
        |     CASE WHEN n > 1 THEN (lt * 1000000) // (n - 1) ELSE 0 END
        |       AS ppm
        |   FROM (SELECT pscore,
        |       coalesce(sum(c) OVER (ORDER BY pscore
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         AS lt,
        |       sum(c) OVER () AS n FROM ph)),
        | mp AS (SELECT rk.grp, rk.score, pr.pscore AS norm_score
        |   FROM rk ASOF JOIN pr ON rk.ppm >= pr.ppm)
        | SELECT st.id, st.grp, st.score, mp.norm_score
        | FROM st JOIN mp USING (grp, score) ORDER BY st.id""".stripMargin),

    // Per-source exact percentile rank of n_chars (score calibration for
    // cross-source threshold cuts — the CCNet move): histogram-windowed,
    // ties share a rank, pure integer ppm. Exact oracle.
    QueryCase("q_source_score_rank", ((s, dir) =>
      Curation.perGroupScoreRank(t(s, dir, "documents"), "doc_id", "source",
        col("n_chars")).presented("id")),
      """WITH h AS (SELECT source AS grp, n_chars AS score,
        |     count(*)::BIGINT AS c FROM documents GROUP BY 1, 2),
        | r AS (SELECT grp, score,
        |     coalesce(sum(c) OVER (PARTITION BY grp ORDER BY score
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt,
        |     sum(c) OVER (PARTITION BY grp) AS n FROM h)
        | SELECT d.doc_id AS id, d.source AS grp,
        |   CAST(d.n_chars AS BIGINT) AS score,
        |   CAST(CASE WHEN r.n > 1 THEN (r.lt * 1000000) // (r.n - 1)
        |     ELSE 0 END AS BIGINT) AS rank_ppm
        | FROM documents d JOIN r ON r.grp = d.source AND r.score = d.n_chars
        | ORDER BY id""".stripMargin),

    // Context-window chunking (32-token windows, stride 16) — exact oracle:
    // DuckDB re-slices the same token lists.
    QueryCase("q_chunk", ((s, dir) =>
      Curation.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 32, stride = 16)
        .presented("doc_id", "chunk_idx")),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |   ex AS (SELECT doc_id, t,
         |     unnest(range(0, CASE WHEN len(t) = 0 THEN 0
         |       ELSE 1 + (GREATEST(len(t) - 32, 0) + 15) // 16 END)) AS i
         |   FROM tk)
         | SELECT doc_id, i AS chunk_idx,
         |   len(list_slice(t, i * 16 + 1, i * 16 + 32)) AS n_chunk_tokens,
         |   array_to_string(list_slice(t, i * 16 + 1, i * 16 + 32), ' ')
         |     AS chunk_text
         | FROM ex ORDER BY doc_id, chunk_idx""".stripMargin),

    // Stream-packing layout (pack-then-split at 256 tokens, 4 sub-shards per
    // source) — exact oracle: DuckDB recomputes the per-shard running sums.
    QueryCase("q_pack", ((s, dir) =>
      Curation.packStream(t(s, dir, "documents"), "doc_id", "text", "source",
        budget = 256, subShards = 4)
        .presented("source", "doc_id")),
      s"""SELECT source, doc_id % 4 AS sub_shard, doc_id, dl AS n_tokens,
         |   cum - dl AS start_off, (cum - dl) // 256 AS bin,
         |   CASE WHEN dl > 0 AND (cum - dl) // 256 <> (cum - 1) // 256
         |     THEN 1 ELSE 0 END AS straddles
         | FROM (SELECT source, doc_id, dl,
         |     CAST(sum(dl) OVER (PARTITION BY source, doc_id % 4 ORDER BY doc_id)
         |       AS BIGINT) AS cum
         |   FROM (SELECT source, doc_id, len($tokensSql) AS dl FROM documents))
         | ORDER BY source, doc_id""".stripMargin),

    // Duplicate clusters via distributed connected components over the
    // exact-dup pair graph — exact oracle: on this graph components are the
    // per-md5-group min ids, which DuckDB computes directly.
    QueryCase("q_dedup_clusters", ((s, dir) => {
      val dd = docsWithDupes(s, dir)
      val d = dd.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      val pairs = d.as("a")
        .join(d.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      Graph.dedupClusters(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"), col("is_canonical"))
        .presented("doc_id")
    }),
      s"""WITH d AS (SELECT doc_id, md5(text) AS h FROM $docsWithDupesSql),
         |   g AS (SELECT h FROM d GROUP BY h HAVING count(*) >= 2)
         | SELECT doc_id, min_id AS component,
         |   (doc_id = min_id)::INT AS is_canonical
         | FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY d.h) AS min_id
         |   FROM d JOIN g USING (h))
         | ORDER BY doc_id""".stripMargin),

    // Same cluster semantics through the O(log n)-round alternating-star
    // algorithm (Kiveris et al. 2014) — the large-diameter scale path;
    // identical oracle (components of the exact-dup graph = per-md5-group
    // min ids).
    QueryCase("q_dedup_clusters_star", ((s, dir) => {
      val dd = docsWithDupes(s, dir)
      val d = dd.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      val pairs = d.as("a")
        .join(d.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      Graph.connectedComponentsStar(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("comp").as("component"),
          (col("id") === col("comp")).cast("int").as("is_canonical"))
        .presented("doc_id")
    }),
      s"""WITH d AS (SELECT doc_id, md5(text) AS h FROM $docsWithDupesSql),
         |   g AS (SELECT h FROM d GROUP BY h HAVING count(*) >= 2)
         | SELECT doc_id, min_id AS component,
         |   (doc_id = min_id)::INT AS is_canonical
         | FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY d.h) AS min_id
         |   FROM d JOIN g USING (h))
         | ORDER BY doc_id""".stripMargin),

    // Containment dedup (winnow-fingerprint blocking), oracled structurally:
    // exact-duplicate pairs have containment 1.0 and share every
    // fingerprint, so all of them must surface.
    QueryCase("q_containment", ((s, dir) => {
      val dd = docsWithDupes(s, dir)
      val d = dd.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      val exactPairs = d.as("a")
        .join(d.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      exactPairs
        .join(Dedup.containmentPairs(dd, "doc_id", "text", threshold = 0.8)
          .select(col("id_a"), col("id_b"), lit(1).as("__hit")),
          Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_exact_pairs"),
          sum(coalesce(col("__hit"), lit(0))).as("n_found_by_containment"))
    }),
      s"""WITH d AS (SELECT doc_id, md5(text) AS h FROM $docsWithDupesSql)
         | SELECT count(*) AS n_exact_pairs, count(*) AS n_found_by_containment
         | FROM d a JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id""".stripMargin),

    // Winnowing (rolling-hash) fingerprints, oracled structurally: exact
    // duplicate pairs (DuckDB recomputes the set via md5) must have
    // IDENTICAL fingerprint sets (same tokens → same windows → same minima),
    // and the whole corpus must emit fingerprints. The hash values
    // themselves are family-specific (XXH64-based wrapping mixes, which
    // DuckDB's non-wrapping integer SQL cannot recompute).
    QueryCase("q_winnow_fingerprints", ((s, dir) => {
      val dd = docsWithDupes(s, dir)
      val fp = dd.select(col("doc_id"),
        md5(col("text").cast("binary")).as("h"),
        TextAnalysis.winnowFingerprints(col("text")).as("fp"))
      val pairs = fp.as("a")
        .join(fp.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select((col("a.fp") === col("b.fp")).cast("int").as("same_fp"))
      pairs.agg(count(lit(1)).as("n_exact_pairs"),
        sum(col("same_fp")).as("n_identical_fp"))
    }),
      s"""WITH d AS (SELECT doc_id, md5(text) AS h FROM $docsWithDupesSql)
         | SELECT count(*) AS n_exact_pairs, count(*) AS n_identical_fp
         | FROM d a JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id""".stripMargin),

    // The boom container itself under the oracle: events → .bm files →
    // boom scan → rollup must equal DuckDB's direct computation over the
    // original parquet (validates writer+reader byte fidelity end-to-end).
    QueryCase("q_boom_roundtrip", ((s, dir) => {
      val out = fixtureDir("boom-oracle", dir) { d =>
        events(s, dir)
          .select(col("ts_ms").as("timestamp"),
            concat(col("event_type"), lit(" "), col("props")).as("message"),
            lit(0).as("eventId"),
            col("user_id").as("createTime"),
            col("event_id").as("blockNumber"),
            lit(1L).as("lineNumber"))
          .write.format("boom").mode("append").save(d)
      }
      s.read.format("boom").load(out)
        .agg(count(lit(1)).as("n"),
          min(col("timestamp")).as("min_ts_ms"),
          max(col("timestamp")).as("max_ts_ms"),
          sum(length(col("message"))).cast("long").as("sum_msg_len"),
          sum(col("blockNumber")).as("sum_event_id"))
    }),
      """SELECT count(*) AS n, min(epoch_ms(ts)) AS min_ts_ms, max(epoch_ms(ts)) AS max_ts_ms,
        |   CAST(sum(length(event_type || ' ' || props)) AS BIGINT) AS sum_msg_len,
        |   CAST(sum(event_id) AS BIGINT) AS sum_event_id
        | FROM events""".stripMargin),

    // Pushed MIN/MAX(timestamp) + COUNT under a time-range predicate on
    // the Boom source (r14: the COUNT(*) header-walk generalized — the
    // stats walk reads per-line ms varints, never a message byte, one
    // partial row per task). Value oracle replays the range aggregate
    // over the same events rows in DuckDB; BoomPushdownSpec pins the
    // plan shape (aggsPushed) and ms-exactness at block boundaries.
    QueryCase("q_boom_agg_pushdown", ((s, dir) => {
      val out = fixtureDir("boom-agg", dir) { d =>
        events(s, dir)
          .select(col("ts_ms").as("timestamp"),
            concat(col("event_type"), lit(" "), col("props")).as("message"),
            lit(0).as("eventId"),
            col("user_id").as("createTime"),
            col("event_id").as("blockNumber"),
            lit(1L).as("lineNumber"))
          .write.format("boom").mode("append").save(d)
      }
      s.read.format("boom").load(out)
        .where(col("timestamp") >= rangeStartMs &&
          col("timestamp") < rangeEndMs)
        .agg(count(lit(1)).as("n"),
          min(col("timestamp")).as("min_ts_ms"),
          max(col("timestamp")).as("max_ts_ms"))
    }),
      s"""SELECT count(*) AS n, min(epoch_ms(ts)) AS min_ts_ms,
         |   max(epoch_ms(ts)) AS max_ts_ms
         | FROM events
         | WHERE epoch_ms(ts) >= $rangeStartMs
         |   AND epoch_ms(ts) < $rangeEndMs""".stripMargin),

    // Compaction under the oracle (r16): the SAME events fixture dropped as
    // 8 small incoming/ files into two sibling partition trees, both
    // compacted by rawMerge (raw Avro-block copy): `raw` into three bins
    // (a third-of-input target), `rec` into one (the default target). Both
    // data/ trees are scanned back through the boom source. Every line AND
    // the per-line block-metadata runs (createTime, blockNumber) must
    // survive both bin layouts bit-for-bit: the rollups must equal each
    // other and DuckDB's direct replay over the original events.
    QueryCase("q_rawmerge_roundtrip", ((s, dir) => {
      val base = fixtureDir("rawmerge-oracle", dir) { d =>
        def dropIncoming(name: String): String = {
          val part = s"$d/$name"
          events(s, dir)
            .select(col("ts_ms").as("timestamp"),
              concat(col("event_type"), lit(" "), col("props")).as("message"),
              lit(0).as("eventId"),
              col("user_id").as("createTime"),
              col("event_id").as("blockNumber"),
              lit(1L).as("lineNumber"))
            .repartition(8)
            .write.format("boom").mode("append").save(part + "/incoming")
          part
        }
        val rawTree = dropIncoming("raw")
        val recTree = dropIncoming("rec")
        val inPath = new org.apache.hadoop.fs.Path(rawTree, "incoming")
        val inBytes = inPath.getFileSystem(s.sessionState.newHadoopConf())
          .getContentSummary(inPath).getLength
        graft.maintenance.LogMaintenance.rawMerge(s, rawTree,
          targetFileSize = inBytes / 3 + 1)
        graft.maintenance.LogMaintenance.rawMerge(s, recTree)
      }
      val rawTree = s"$base/raw"
      val recTree = s"$base/rec"
      def rollup(df: DataFrame, p: String): DataFrame = df.agg(
        count(lit(1)).as(s"${p}_n"),
        min(col("timestamp")).as(s"${p}_min_ts_ms"),
        max(col("timestamp")).as(s"${p}_max_ts_ms"),
        sum(length(col("message"))).cast("long").as(s"${p}_sum_msg_len"),
        sum(col("blockNumber")).as(s"${p}_sum_event_id"),
        sum(col("createTime")).as(s"${p}_sum_user_id"))
      rollup(s.read.format("boom").load(rawTree + "/data"), "raw")
        .crossJoin(broadcast(
          rollup(s.read.format("boom").load(recTree + "/data"), "rec")))
    }),
      """WITH r AS (SELECT count(*) AS n,
        |     min(epoch_ms(ts)) AS mn, max(epoch_ms(ts)) AS mx,
        |     CAST(sum(length(event_type || ' ' || props)) AS BIGINT) AS sl,
        |     CAST(sum(event_id) AS BIGINT) AS se,
        |     CAST(sum(user_id) AS BIGINT) AS su
        |   FROM events)
        | SELECT n AS raw_n, mn AS raw_min_ts_ms, mx AS raw_max_ts_ms,
        |   sl AS raw_sum_msg_len, se AS raw_sum_event_id,
        |   su AS raw_sum_user_id,
        |   n AS rec_n, mn AS rec_min_ts_ms, mx AS rec_max_ts_ms,
        |   sl AS rec_sum_msg_len, se AS rec_sum_event_id,
        |   su AS rec_sum_user_id
        | FROM r""".stripMargin),

    // Filter/archive (M3) under the oracle (r16): events → boom data/
    // tree → filterArchive with a regex-OR-stringmatch YAML chain →
    // archive/ scanned back; the surviving-line rollup must equal DuckDB's
    // replay of the same predicate over the original events rows.
    QueryCase("q_filter_archive", ((s, dir) => {
      val part = fixtureDir("filterarch-oracle", dir) { d =>
        events(s, dir)
          .select(col("ts_ms").as("timestamp"),
            concat(col("event_type"), lit(" "), col("props")).as("message"),
            lit(0).as("eventId"),
            col("user_id").as("createTime"),
            col("event_id").as("blockNumber"),
            lit(1L).as("lineNumber"))
          .repartition(4)
          .write.format("boom").mode("append").save(d + "/data")
        val yaml =
          """filters:
            |  - ".*":
            |    - { type: regex,       pattern: "^error " }
            |    - { type: stringmatch, pattern: '"k": 3' }
            |""".stripMargin
        graft.maintenance.LogMaintenance.filterArchive(s, d, "comp", yaml)
      }
      s.read.format("boom").load(part + "/archive")
        .agg(count(lit(1)).as("n"),
          min(col("timestamp")).as("min_ts_ms"),
          max(col("timestamp")).as("max_ts_ms"),
          sum(length(col("message"))).cast("long").as("sum_msg_len"),
          sum(col("blockNumber")).as("sum_event_id"))
    }),
      """SELECT count(*) AS n,
        |   min(epoch_ms(ts)) AS min_ts_ms, max(epoch_ms(ts)) AS max_ts_ms,
        |   CAST(sum(length(event_type || ' ' || props)) AS BIGINT)
        |     AS sum_msg_len,
        |   CAST(sum(event_id) AS BIGINT) AS sum_event_id
        | FROM events
        | WHERE regexp_matches(event_type || ' ' || props, '^error ')
        |   OR contains(event_type || ' ' || props, '"k": 3')""".stripMargin),

    // Z-order (Morton) layout audit on lineitem's (orderkey, partkey):
    // bucket by the top 6 interleaved bits and report each bucket's count +
    // bounding rectangle — the deterministic, engine-replayable half of
    // multi-dimensional file skipping (zorderLayout is the physical write
    // path; physical partition bounds depend on range-sampler internals, so
    // the ORACLE grades the z-math + rectangles, ScaleSpec the layout).
    // REAL oracle: DuckDB replays the bit interleave and the rollup.
    QueryCase("q_zorder", ((s, dir) =>
      Scale.zorderStats(t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          bucketBits = 6)
        .presented("bucket")),
      """WITH mx AS (SELECT max(greatest(CAST(l_orderkey AS BIGINT),
        |                               CAST(l_partkey AS BIGINT))) AS mx
        |   FROM lineitem),
        | m AS (SELECT CAST(coalesce(list_min(list_filter(range(8, 31),
        |     k -> mx < (1::BIGINT << k))), 31) AS INT) AS bits FROM mx),
        | z AS (SELECT
        |     CAST(l_orderkey AS BIGINT) AS a, CAST(l_partkey AS BIGINT) AS b,
        |     CAST(list_sum(list_transform(range(0, m.bits), i ->
        |       ((CAST(l_orderkey AS BIGINT) >> i) % 2) * (1::BIGINT << (2*i))
        |       + ((CAST(l_partkey AS BIGINT) >> i) % 2) * (1::BIGINT << (2*i+1))))
        |       AS BIGINT) AS zv, m.bits AS bits
        |   FROM lineitem, m)
        | SELECT zv >> (2*bits - 6) AS bucket, count(*) AS n,
        |   min(a) AS min_a, max(a) AS max_a, min(b) AS min_b, max(b) AS max_b
        | FROM z GROUP BY 1 ORDER BY bucket""".stripMargin),

    // Hilbert-curve bucket rectangles on the same keys — the tighter
    // locality alternative to Morton (no diagonal jumps). FULLY oracled:
    // the xy2d quadrant/rotate loop unrolls into one GUARDED CTE per bit
    // level (21 static levels; levels past the data-fitted bit count
    // pass through), bit fit replaying zorderStats' integer rule.
    QueryCase("q_hilbert", ((s, dir) =>
      Scale.hilbertStats(t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          bucketBits = 6)
        .presented("bucket")),
      hilbertOracleSql(21, 6)),

    // Non-equi point-in-interval join via bin fragmentation (Intervals):
    // order dates × derived "in transit" shipment windows, no cartesian —
    // exact oracle: DuckDB runs the same range join natively (IEJoin).
    QueryCase("q_range_join", ((s, dir) => {
      val (points, iv) = shipmentWindows(s, dir)
      Intervals.pointIntervalJoin(points, "d", iv, "s_day", "e_day",
          binWidth = 16L)
        .select(col("d"), col("iv_id"))
        // The ONE large ordered output (~1.3M pairs at sf0.1): a true range
        // sort beats `presented` here — its boundary-sampling re-execution
        // only repeats a broadcast-cheap join, while a single-partition
        // sort of the full pair set is the slower tail (measured 1.54 s vs
        // 1.86 s).
        .orderBy("d", "iv_id")
    }),
      s"""WITH $shipmentWindowsSql
         | SELECT p.d, iv.iv_id FROM p JOIN iv
         |   ON p.d >= iv.s_day AND p.d <= iv.e_day
         | ORDER BY d, iv_id""".stripMargin),

    // Zero-preserving coverage counts over the same windows ("how many
    // shipments in transit on each order date").
    QueryCase("q_interval_coverage", ((s, dir) => {
      val (points, iv) = shipmentWindows(s, dir)
      Intervals.coverageCounts(points, "d", iv, "s_day", "e_day",
          binWidth = 16L)
        .presented("d")
    }),
      s"""WITH $shipmentWindowsSql
         | SELECT p.d, count(iv.iv_id) AS n FROM p LEFT JOIN iv
         |   ON p.d >= iv.s_day AND p.d <= iv.e_day
         | GROUP BY p.d ORDER BY d""".stripMargin),

    // Hourly volume anomalies per event type, |x−μ| > 2σ decided in PURE
    // int64 arithmetic (Stats.volumeAnomalies) — bit-exact oracle: DuckDB
    // evaluates the identical integer inequality.
    QueryCase("q_volume_anomaly", ((s, dir) =>
      Stats.volumeAnomalies(events(s, dir), "event_type",
          expr("ts_ms DIV 3600000"), z = 2)
        .presented("event_type", "bucket")),
      """WITH c AS (
        |   SELECT event_type, epoch_ms(ts) // 3600000 AS bucket,
        |     count(*) AS cnt
        |   FROM events GROUP BY 1, 2),
        | m AS (
        |   SELECT event_type, sum(cnt) AS s, sum(cnt * cnt) AS q,
        |     count(*) AS n
        |   FROM c GROUP BY event_type)
        | SELECT c.event_type, c.bucket, c.cnt,
        |   ((m.n * c.cnt - m.s) * (m.n * c.cnt - m.s)
        |      > 4 * (m.n * m.q - m.s * m.s))::INT AS is_anomaly
        | FROM c JOIN m USING (event_type)
        | ORDER BY event_type, bucket""".stripMargin),

    // GK-sketch-audited quartiles per language: exact quartiles (oracled,
    // quantile_cont parity per q_length_percentiles) + the rank-guarantee
    // audit bit — the quantile member of the sketch triad (CMS/HLL/GK).
    QueryCase("q_quartiles_audited", ((s, dir) =>
      Stats.quartilesAudited(t(s, dir, "documents"), "lang", "n_chars")
        .presented("lang")),
      """SELECT lang,
        |   quantile_cont(n_chars, 0.25) AS p25,
        |   quantile_cont(n_chars, 0.5)  AS p50,
        |   quantile_cont(n_chars, 0.75) AS p75,
        |   1 AS est_ok
        | FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // Grouped exact quartiles of document length — bit-exact across engines
    // because quarter interpolation over integers is exactly representable
    // (Stats.quarterPercentiles doc).
    QueryCase("q_length_percentiles", ((s, dir) =>
      Stats.quarterPercentiles(t(s, dir, "documents"), "lang", "n_chars")
        .presented("lang")),
      """SELECT lang,
        |   quantile_cont(n_chars, 0.25) AS p25,
        |   quantile_cont(n_chars, 0.5)  AS p50,
        |   quantile_cont(n_chars, 0.75) AS p75
        | FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // Nearest-centroid assignment against a FIXED centroid set (the
    // k-means E-step / IVF coarse pass) — shuffle-free, centroids
    // broadcast; the 8-row driver-side collect is bounded by construction.
    // Exact oracle: DuckDB re-ranks every (vector, centroid) pair by
    // cosine; the emitted columns are integer ids only, so last-ulp score
    // differences between engines cannot flip the hash (argmax ties break
    // to the lowest cell on both sides).
    QueryCase("q_knn_assign", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centers = emb.where(col("vec_id") < 8)
        .select(col("vec_id").cast("int"), col("embedding"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).toIndexedSeq
      Similarity.assignToCentroids(emb, "vec_id", "embedding", centers)
        .select(col("vec_id").cast("long").as("vec_id"),
          col("cell").cast("int").as("cell"))
        .presented("vec_id")
    }),
      """WITH c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |     FROM embeddings WHERE vec_id < 8),
        | s AS (SELECT e.vec_id, c.cell,
        |     CASE WHEN isnan(list_cosine_similarity(
        |              CAST(e.embedding AS DOUBLE[]), c.cv))
        |          THEN 0.0
        |          ELSE list_cosine_similarity(
        |              CAST(e.embedding AS DOUBLE[]), c.cv) END AS score
        |   FROM embeddings e CROSS JOIN c)
        | SELECT vec_id, cell::INT AS cell FROM (
        |   SELECT vec_id, cell, row_number()
        |       OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
        |   FROM s)
        | WHERE rn = 1 ORDER BY vec_id""".stripMargin),

    // SQ8 scalar quantization codes, exploded to (vec_id, dim, code) int
    // rows. Exact oracle: DuckDB recomputes per-dim min/max and evaluates
    // the IDENTICAL floor((x-mn)/((mx-mn)/255)) formula — same IEEE ops on
    // the same doubles, bit-equal codes.
    QueryCase("q_sq8_codes", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bounds = ops.ScalarQuantizer.fit(emb, "embedding")
      ops.ScalarQuantizer.encode(emb, "vec_id", "embedding", bounds)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("dim", "code")))
        .presented("vec_id", "dim")
    }),
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |     FROM embeddings),
        | ex AS (SELECT unnest(v) AS x,
        |     unnest(range(1, len(v) + 1)) AS i FROM e),
        | dm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY i),
        | b AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
        |   FROM dm)
        | SELECT e.vec_id, i - 1 AS dim,
        |   CASE WHEN b.mxs[i] = b.mns[i] THEN 0
        |        ELSE least(255, greatest(0, CAST(floor((e.v[i] - b.mns[i])
        |          / ((b.mxs[i] - b.mns[i]) / 255.0)) AS INT))) END AS code
        | FROM e CROSS JOIN b
        |   CROSS JOIN UNNEST(range(1, len(e.v) + 1)) AS t(i)
        | ORDER BY vec_id, dim""".stripMargin),

    // BPE tokenizer induction, step-0 side: the top-200 adjacent
    // symbol-pair counts over the word-count table (the argmax input of
    // the first merge). Exact integer oracle.
    QueryCase("q_bpe_pairs", ((s, dir) =>
      Bpe.pairCounts(Bpe.wordSymbolCounts(t(s, dir, "documents"), "text"))
        .orderBy(desc("n"), col("l"), col("r")).limit(200)),
      s"""WITH wc AS (SELECT w, count(*) AS cnt FROM (
         |     SELECT unnest($tokensSql) AS w FROM documents) GROUP BY w),
         | sy AS (SELECT list_append(string_split(w, ''), '</w>') AS s, cnt
         |   FROM wc),
         | pr AS (SELECT cnt,
         |     unnest([[s[i], s[i+1]] for i in range(1, len(s))]) AS p
         |   FROM sy)
         | SELECT p[1] AS l, p[2] AS r, CAST(sum(cnt) AS BIGINT) AS n
         | FROM pr GROUP BY 1, 2
         | ORDER BY n DESC, l, r LIMIT 200""".stripMargin),

    // BPE merge learning (5 merges). Oracled by UNROLLING the loop: the
    // DuckDB query chains 5 CTE triples (pair counts → argmax → list_reduce
    // merge application), so each step's tokenization depends on the
    // previous argmax exactly like the trainer — see bpeMergesOracleSql.
    // BpeSpec additionally pins the hand-computed Sennrich example.
    QueryCase("q_bpe_merges", ((s, dir) =>
      Bpe.learnMerges(t(s, dir, "documents"), "text", numMerges = 5)),
      bpeMergesOracleSql(5)),

    // BPE ENCODE: corpus token counts under the 5 learned merges — the
    // trainer applied, closing the learn → encode → count loop. The merge
    // table collect is 5 rows (bounded); everything after the shared word
    // count is vocabulary-sized. Oracle: the same unrolled CTE chain, with
    // the final rewritten word table's symbols counted.
    QueryCase("q_bpe_encode", ((s, dir) =>
      // Learn + encode through the fused path (r17): the trainer's final
      // rewritten word table IS the encode input, so counting it directly
      // skips the second corpus word-count aggregation and the 5-merge
      // re-application the old learnMerges → encodeTokenCounts
      // composition paid. Result identical by construction (same merges,
      // same order) — re-proven against the unchanged oracle.
      Bpe.learnAndEncodeTokenCounts(t(s, dir, "documents"), "text",
          numMerges = 5)
        .orderBy(desc("n"), col("token")).limit(200)),
      bpeEncodeOracleSql(5)),

    // Unigram-LM (SentencePiece) vocabulary: all single chars + top
    // multi-char substrings by (count desc, piece asc), integer
    // round(1e6·ln) scores normalized over the kept set. Oracle replays
    // the substring census and the selection verbatim.
    QueryCase("q_unigram_vocab", ((s, dir) =>
      UnigramLm.fitVocab(t(s, dir, "documents"), "text", vocabSize = 300,
        maxPieceLen = 6).presented("piece")),
      s"""${unigramVocabCtesSql(300, 6)}
         | SELECT piece, n, score_ppm FROM vs ORDER BY piece""".stripMargin),

    // One hard-EM refit of that vocabulary: Viterbi usage counts → prune
    // unused multi-pieces, floor chars at 1, fresh ln scores — the
    // SentencePiece training round with deterministic hard assignments.
    // Oracle chains the full encode replay into the usage/rescore SQL.
    QueryCase("q_unigram_refit", ((s, dir) => {
      // fit + refit share ONE persisted corpus word table (r17 — the
      // Bpe learn/encode fuse, same shape): each stage otherwise re-ran
      // the corpus tokenize + word-count aggregation. Same results by
      // construction (the word table is the same deterministic
      // aggregation both stages started with); oracle re-proven.
      val words = UnigramLm.wordCounts(t(s, dir, "documents"), "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val vocab = UnigramLm.fitVocabFromWords(words, vocabSize = 300,
          maxPieceLen = 6)
        .select("piece", "score_ppm").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      UnigramLm.refitVocabFromWords(words, vocab).presented("piece")
    }),
      unigramRefitOracleSql(300, 6, 16, -30000000L)),

    // Viterbi maximum-likelihood segmentation of the top-500 corpus words
    // under that vocabulary — the DP itself is oracled: DuckDB unrolls 16
    // position levels with the same (score, fewer-pieces, longest-final)
    // tie-break and reconstructs the identical piece strings.
    QueryCase("q_unigram_encode", ((s, dir) => {
      // Shared word table, as q_unigram_refit.
      val words = UnigramLm.wordCounts(t(s, dir, "documents"), "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val vocab = UnigramLm.fitVocabFromWords(words, vocabSize = 300,
          maxPieceLen = 6)
        .select("piece", "score_ppm").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      UnigramLm.encodeWordsFromWords(words, vocab)
        .orderBy(desc("n"), col("word")).limit(500)
    }),
      unigramEncodeOracleSql(300, 6, 16, -30000000L, 500)),

    // C4 exact three-sentence-span dedup (first occurrence survives,
    // cleaned text rebuilt) — run on docsWithDupes so cross-document span
    // duplicates exist. Exact oracle: DuckDB re-elects first occurrences
    // over span STRINGS where the engine shuffles 64-bit span hashes
    // (collisions ~1e-10, the q_ngram_jaccard convention).
    QueryCase("q_span_dedup", ((s, dir) =>
      Dedup.dedupSentenceSpans(docsWithDupes(s, dir), "doc_id", "text")
        .presented("doc_id")),
      s"""WITH tk AS (SELECT doc_id,
         |     list_filter(list_transform(
         |       regexp_extract_all(text, '[^.!?]+[.!?]*'), x -> trim(x)),
         |       x -> x <> '') AS s
         |   FROM $docsWithDupesSql),
         | sp AS (SELECT doc_id, unnest(range(1, len(s) - 1)) AS i, s FROM tk),
         | sp2 AS (SELECT doc_id, i - 1 AS idx,
         |     array_to_string(list_slice(s, i, i + 2), ' ') AS g FROM sp),
         | dup AS (SELECT doc_id, idx FROM (
         |     SELECT doc_id, idx, row_number()
         |         OVER (PARTITION BY g ORDER BY doc_id, idx) AS rn FROM sp2)
         |   WHERE rn > 1),
         | dl AS (SELECT doc_id, list_sort(list(idx)) AS didx
         |   FROM dup GROUP BY doc_id)
         | SELECT tk.doc_id,
         |   len(tk.s) AS n_sentences,
         |   greatest(len(tk.s) - 2, 0) AS n_spans,
         |   coalesce(len(dl.didx), 0) AS n_dup_spans,
         |   array_to_string([tk.s[j] for j in range(1, len(tk.s) + 1)
         |     if len(list_filter(coalesce(dl.didx, CAST([] AS BIGINT[])),
         |          i -> j - 1 >= i AND j - 1 < i + 3)) = 0], ' ')
         |     AS cleaned_text
         | FROM tk LEFT JOIN dl USING (doc_id)
         | ORDER BY tk.doc_id""".stripMargin),

    // Exact duplicate-substring spans (Lee et al. 2022 suffix-array dedup,
    // re-seeded on 8-gram hashes). Exact oracle: DuckDB rebuilds 8-gram
    // STRINGS where the engine shuffles 64-bit hashes (collisions ~1e-10,
    // the q_ngram_jaccard convention) and replays the same
    // gaps-and-islands merge.
    QueryCase("q_dup_spans", ((s, dir) =>
      Dedup.duplicateSubstringSpans(docsWithDupes(s, dir), "doc_id", "text",
          minLen = 8)
        .presented("doc_id", "start_tok")),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM $docsWithDupesSql),
         | g AS (SELECT doc_id, unnest(range(1, len(t) - 6)) AS i, t
         |   FROM tk WHERE len(t) >= 8),
         | g2 AS (SELECT doc_id, i - 1 AS pos,
         |     array_to_string(list_slice(t, i, i + 7), ' ') AS gram FROM g),
         | dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) > 1),
         | ds AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN dup USING (gram)),
         | isl0 AS (SELECT doc_id, pos,
         |     CASE WHEN pos - lag(pos)
         |         OVER (PARTITION BY doc_id ORDER BY pos) < 8
         |       THEN 0 ELSE 1 END AS nw
         |   FROM ds),
         | isl AS (SELECT doc_id, pos,
         |     sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |   FROM isl0)
         | SELECT doc_id, min(pos) AS start_tok, max(pos) + 7 AS end_tok,
         |   max(pos) - min(pos) + 8 AS n_tokens
         | FROM isl GROUP BY doc_id, grp
         | ORDER BY doc_id, start_tok""".stripMargin),

    // Suffix-array-fidelity variant: spans must repeat AS A WHOLE at one
    // partner site (diagonal-chained gram matches, verified extension),
    // not merely have each gram duplicated somewhere. Exact oracle: DuckDB
    // replays the pair expansion, diagonal islands, and per-doc union
    // merge on gram STRINGS, including the 64-bucket boilerplate cap.
    QueryCase("q_dup_spans_maxext", ((s, dir) =>
      Dedup.duplicateSubstringSpansExact(docsWithDupes(s, dir), "doc_id",
          "text", minLen = 8, maxBucketSize = 64)
        .presented("doc_id", "start_tok")),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM $docsWithDupesSql),
         | g AS (SELECT doc_id, unnest(range(1, len(t) - 6)) AS i, t
         |   FROM tk WHERE len(t) >= 8),
         | g2 AS (SELECT doc_id, i - 1 AS pos,
         |     array_to_string(list_slice(t, i, i + 7), ' ') AS gram FROM g),
         | b AS (SELECT gram FROM g2 GROUP BY gram
         |   HAVING count(*) BETWEEN 2 AND 64),
         | ds AS (SELECT g2.doc_id, g2.pos, g2.gram FROM g2 JOIN b USING (gram)),
         | pr AS (SELECT x.doc_id AS ida, x.pos AS pa,
         |     y.doc_id AS idb, y.pos AS pb
         |   FROM ds x JOIN ds y ON x.gram = y.gram
         |     AND (x.doc_id < y.doc_id
         |       OR (x.doc_id = y.doc_id AND x.pos < y.pos))),
         | cov AS (SELECT ida AS id, idb AS partner, pa - pb AS diag, pa AS pos
         |     FROM pr
         |   UNION ALL
         |   SELECT idb, ida, pb - pa, pb FROM pr),
         | isl0 AS (SELECT id, partner, diag, pos,
         |     CASE WHEN pos - lag(pos) OVER (
         |         PARTITION BY id, partner, diag ORDER BY pos) <= 1
         |       THEN 0 ELSE 1 END AS nw
         |   FROM cov),
         | isl AS (SELECT id, partner, diag, pos,
         |     sum(nw) OVER (PARTITION BY id, partner, diag ORDER BY pos) AS grp
         |   FROM isl0),
         | m AS (SELECT id, min(pos) AS s, max(pos) + 7 AS e
         |   FROM isl GROUP BY id, partner, diag, grp),
         | mg0 AS (SELECT id, s, e, max(e) OVER (
         |     PARTITION BY id ORDER BY s, e
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
         |   FROM m),
         | mg1 AS (SELECT id, s, e,
         |     CASE WHEN pe IS NULL OR s > pe + 1 THEN 1 ELSE 0 END AS nw
         |   FROM mg0),
         | mg AS (SELECT id, s, e,
         |     sum(nw) OVER (PARTITION BY id ORDER BY s, e) AS grp
         |   FROM mg1)
         | SELECT id AS doc_id, min(s) AS start_tok, max(e) AS end_tok,
         |   max(e) - min(s) + 1 AS n_tokens
         | FROM mg GROUP BY id, grp
         | ORDER BY doc_id, start_tok""".stripMargin),

    // Per-document duplicated-token mass from the span pass — the signal
    // an exact-substring removal policy thresholds on. dup_frac is an
    // integer-ratio double (bit-exact cross-engine).
    QueryCase("q_dup_span_ratio", ((s, dir) =>
      Dedup.duplicateTokenRatio(docsWithDupes(s, dir), "doc_id", "text",
          minLen = 8)
        .presented("doc_id")),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM $docsWithDupesSql),
         | g AS (SELECT doc_id, unnest(range(1, len(t) - 6)) AS i, t
         |   FROM tk WHERE len(t) >= 8),
         | g2 AS (SELECT doc_id, i - 1 AS pos,
         |     array_to_string(list_slice(t, i, i + 7), ' ') AS gram FROM g),
         | dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) > 1),
         | ds AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN dup USING (gram)),
         | isl0 AS (SELECT doc_id, pos,
         |     CASE WHEN pos - lag(pos)
         |         OVER (PARTITION BY doc_id ORDER BY pos) < 8
         |       THEN 0 ELSE 1 END AS nw
         |   FROM ds),
         | isl AS (SELECT doc_id, pos,
         |     sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |   FROM isl0),
         | sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
         |   FROM isl GROUP BY doc_id, grp),
         | pd AS (SELECT doc_id, count(*) AS n_spans,
         |     CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
         |   FROM sp GROUP BY doc_id)
         | SELECT tk.doc_id, len(tk.t) AS n_tokens_doc,
         |   coalesce(pd.n_spans, 0) AS n_spans,
         |   coalesce(pd.dup_tokens, 0) AS dup_tokens,
         |   CAST(coalesce(pd.dup_tokens, 0) AS DOUBLE)
         |     / greatest(len(tk.t), 1) AS dup_frac
         | FROM tk LEFT JOIN pd USING (doc_id)
         | ORDER BY tk.doc_id""".stripMargin),

    // N-gram novelty of src1/src2 documents against the src0 slice as the
    // existing-corpus reference. Exact oracle: DuckDB rebuilds shingle
    // STRING sets (the engine joins 64-bit shingle hashes — the
    // q_ngram_jaccard collision argument); novelty is an integer-ratio
    // double.
    QueryCase("q_novelty", ((s, dir) => {
      val d = t(s, dir, "documents")
      Curation.noveltyScore(
        d.where(col("source") =!= "src0"), "doc_id", "text",
        d.where(col("source") === "src0"), "text")
        .presented("doc_id")
    }),
      s"""WITH sh AS (SELECT doc_id, source, $shingleSetSql AS s
         |     FROM (SELECT doc_id, source, $tokensSql AS t FROM documents)),
         | refg AS (SELECT DISTINCT unnest(s) AS g FROM sh
         |   WHERE source = 'src0'),
         | dg AS (SELECT doc_id, unnest(s) AS g FROM sh
         |   WHERE source <> 'src0'),
         | per AS (SELECT dg.doc_id, count(*) AS n_grams,
         |     CAST(sum(CASE WHEN refg.g IS NULL THEN 0 ELSE 1 END)
         |       AS BIGINT) AS n_known
         |   FROM dg LEFT JOIN refg ON dg.g = refg.g
         |   GROUP BY dg.doc_id)
         | SELECT sh.doc_id, coalesce(per.n_grams, 0) AS n_grams,
         |   coalesce(per.n_known, 0) AS n_known,
         |   1.0 - CAST(coalesce(per.n_known, 0) AS DOUBLE)
         |     / greatest(coalesce(per.n_grams, 0), 1) AS novelty
         | FROM sh LEFT JOIN per USING (doc_id) WHERE sh.source <> 'src0'
         | ORDER BY sh.doc_id""".stripMargin),

    // Eval-integrity pair: a per-document hash split scatters duplicate
    // pairs across splits (q_split_leakage's off-diagonal rows), the
    // cluster-representative split provably does not (q_leakfree_split —
    // every dup group takes its min-id representative's draw). Exact
    // oracles from the shared md5 draw constants.
    QueryCase("q_split_leakage", ((s, dir) =>
      Curation.splitLeakage(docsWithDupes(s, dir), "doc_id", "text",
          SplitFracs)
        .presented("split_a", "split_b")),
      {
      val draw = "substr(md5(doc_id::VARCHAR || '-graft'), 1, 8)"
      val cum = SplitFracs.map(_._2).scanLeft(0.0)(_ + _).tail
      val cases = SplitFracs.init.zip(cum.init).map { case ((label, _), hi) =>
        s"WHEN $draw < '${Curation.hexThreshold(hi)}' THEN '$label'"
      }.mkString(" ")
      s"""WITH d AS (SELECT doc_id, md5(text) AS h,
         |     CASE $cases ELSE '${SplitFracs.last._1}' END AS split
         |   FROM $docsWithDupesSql)
         | SELECT least(a.split, b.split) AS split_a,
         |   greatest(a.split, b.split) AS split_b,
         |   count(*) AS n_dup_pairs
         | FROM d a JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id
         | GROUP BY 1, 2 ORDER BY split_a, split_b""".stripMargin
    }),

    QueryCase("q_leakfree_split", ((s, dir) =>
      Curation.leakageFreeSplit(docsWithDupes(s, dir), "doc_id", "text",
          SplitFracs)
        .presented("doc_id")),
      {
      val draw = "substr(md5(rep::VARCHAR || '-graft'), 1, 8)"
      val cum = SplitFracs.map(_._2).scanLeft(0.0)(_ + _).tail
      val cases = SplitFracs.init.zip(cum.init).map { case ((label, _), hi) =>
        s"WHEN $draw < '${Curation.hexThreshold(hi)}' THEN '$label'"
      }.mkString(" ")
      s"""WITH d AS (SELECT doc_id, md5(text) AS h FROM $docsWithDupesSql),
         | r AS (SELECT h, min(doc_id) AS rep FROM d GROUP BY h),
         | s AS (SELECT rep,
         |     CASE $cases ELSE '${SplitFracs.last._1}' END AS split
         |   FROM (SELECT DISTINCT rep FROM r))
         | SELECT d.doc_id, r.rep, s.split
         | FROM d JOIN r USING (h) JOIN s USING (rep)
         | ORDER BY d.doc_id""".stripMargin
    }),

    // Duplicate-substring REMOVAL (Lee et al. first-occurrence policy):
    // exact oracle — DuckDB re-elects first gram occurrences over strings
    // and rebuilds the cleaned text with the same island merge.
    QueryCase("q_remove_dup_spans", ((s, dir) =>
      Dedup.removeDuplicateSpans(docsWithDupes(s, dir), "doc_id", "text",
          minLen = 8)
        .presented("doc_id")),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM $docsWithDupesSql),
         | g AS (SELECT doc_id, unnest(range(1, len(t) - 6)) AS i, t
         |   FROM tk WHERE len(t) >= 8),
         | g2 AS (SELECT doc_id, i - 1 AS pos,
         |     array_to_string(list_slice(t, i, i + 7), ' ') AS gram FROM g),
         | fe AS (SELECT doc_id, pos, row_number()
         |     OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn FROM g2),
         | rm AS (SELECT doc_id, pos FROM fe WHERE rn > 1),
         | isl0 AS (SELECT doc_id, pos,
         |     CASE WHEN pos - lag(pos)
         |         OVER (PARTITION BY doc_id ORDER BY pos) < 8
         |       THEN 0 ELSE 1 END AS nw
         |   FROM rm),
         | isl AS (SELECT doc_id, pos,
         |     sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |   FROM isl0),
         | sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
         |   FROM isl GROUP BY doc_id, grp),
         | spl AS (SELECT doc_id, list({'s': s, 'e': e} ORDER BY s) AS sps
         |   FROM sp GROUP BY doc_id)
         | SELECT tk.doc_id, len(tk.t) AS n_tokens,
         |   len(tk.t) - len([tk.t[j] for j in range(1, len(tk.t) + 1)
         |     if len(list_filter(coalesce(spl.sps,
         |          CAST([] AS STRUCT(s BIGINT, e BIGINT)[])),
         |        x -> j - 1 >= x.s AND j - 1 <= x.e)) = 0]) AS n_removed,
         |   coalesce(array_to_string(
         |     [tk.t[j] for j in range(1, len(tk.t) + 1)
         |       if len(list_filter(coalesce(spl.sps,
         |            CAST([] AS STRUCT(s BIGINT, e BIGINT)[])),
         |          x -> j - 1 >= x.s AND j - 1 <= x.e)) = 0], ' '), '')
         |     AS cleaned_text
         | FROM tk LEFT JOIN spl USING (doc_id) ORDER BY tk.doc_id""".stripMargin),

    // Span-level reference scrubbing (every 25th doc plays the reference,
    // the decontamination split): maximal runs of >= 8 tokens appearing
    // in the reference are CUT, text rebuilt — exact oracle, string-gram
    // sets vs 64-bit gram hashes (the q_ngram_jaccard collision
    // argument).
    QueryCase("q_remove_ref_spans", ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.removeReferenceSpans(
        d.where(col("doc_id") % 25 =!= 0), "doc_id", "text",
        d.where(col("doc_id") % 25 === 0), "text", minLen = 8)
        .presented("doc_id")
    }),
      s"""WITH tk0 AS (SELECT doc_id, $tokensSql AS t FROM documents),
         | tk AS (SELECT * FROM tk0 WHERE doc_id % 25 <> 0),
         | g AS (SELECT doc_id, unnest(range(1, len(t) - 6)) AS i, t
         |   FROM tk WHERE len(t) >= 8),
         | g2 AS (SELECT doc_id, i - 1 AS pos,
         |     array_to_string(list_slice(t, i, i + 7), ' ') AS gram FROM g),
         | rg0 AS (SELECT unnest(range(1, len(t) - 6)) AS i, t
         |   FROM tk0 WHERE doc_id % 25 = 0 AND len(t) >= 8),
         | rg AS (SELECT DISTINCT
         |     array_to_string(list_slice(t, i, i + 7), ' ') AS gram FROM rg0),
         | rm AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN rg USING (gram)),
         | isl0 AS (SELECT doc_id, pos,
         |     CASE WHEN pos - lag(pos)
         |         OVER (PARTITION BY doc_id ORDER BY pos) < 8
         |       THEN 0 ELSE 1 END AS nw
         |   FROM rm),
         | isl AS (SELECT doc_id, pos,
         |     sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |   FROM isl0),
         | sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
         |   FROM isl GROUP BY doc_id, grp),
         | spl AS (SELECT doc_id, list({'s': s, 'e': e} ORDER BY s) AS sps
         |   FROM sp GROUP BY doc_id)
         | SELECT tk.doc_id, len(tk.t) AS n_tokens,
         |   len(tk.t) - len([tk.t[j] for j in range(1, len(tk.t) + 1)
         |     if len(list_filter(coalesce(spl.sps,
         |          CAST([] AS STRUCT(s BIGINT, e BIGINT)[])),
         |        x -> j - 1 >= x.s AND j - 1 <= x.e)) = 0]) AS n_removed,
         |   coalesce(array_to_string(
         |     [tk.t[j] for j in range(1, len(tk.t) + 1)
         |       if len(list_filter(coalesce(spl.sps,
         |            CAST([] AS STRUCT(s BIGINT, e BIGINT)[])),
         |          x -> j - 1 >= x.s AND j - 1 <= x.e)) = 0], ' '), '')
         |     AS cleaned_text
         | FROM tk LEFT JOIN spl USING (doc_id) ORDER BY tk.doc_id""".stripMargin),

    // Content-defined chunking dedup (FastCDC at token level): md5-gated
    // cut points, chunk-content occurrence counts. Exact oracle: DuckDB
    // replays the identical cut policy and chunk hashing with list
    // functions.
    QueryCase("q_cdc_chunks", ((s, dir) =>
      Dedup.cdcChunks(docsWithDupes(s, dir), "doc_id", "text")
        .presented("doc_id", "start_tok")),
      s"""WITH $cdcChunksCteSql
         | SELECT doc_id, start_tok, n_tokens, n_occurrences
         | FROM withc ORDER BY doc_id, start_tok""".stripMargin),

    QueryCase("q_cdc_dedup", ((s, dir) =>
      Dedup.cdcDedupStats(docsWithDupes(s, dir), "doc_id", "text")
        .presented("doc_id")),
      s"""WITH $cdcChunksCteSql,
         | per AS (SELECT doc_id, count(*) AS n_chunks,
         |     CAST(sum(CASE WHEN n_occurrences > 1 THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_dup_chunks,
         |     CAST(sum(CASE WHEN n_occurrences > 1 THEN n_tokens ELSE 0 END)
         |       AS BIGINT) AS dup_tokens,
         |     CAST(sum(n_tokens) AS BIGINT) AS nt
         |   FROM withc GROUP BY doc_id)
         | SELECT tk.doc_id, coalesce(per.n_chunks, 0) AS n_chunks,
         |   coalesce(per.n_dup_chunks, 0) AS n_dup_chunks,
         |   coalesce(per.dup_tokens, 0) AS dup_tokens,
         |   CAST(coalesce(per.dup_tokens, 0) AS DOUBLE)
         |     / greatest(coalesce(per.nt, 0), 1) AS dup_frac
         | FROM tk LEFT JOIN per USING (doc_id)
         | ORDER BY tk.doc_id""".stripMargin),

    // Cross-slice n-gram overlap matrix (leakage audit over `source`).
    // maxSlices = 2 genuinely excludes grams present in all 3 sources, so
    // the ubiquity cap carries oracle traffic.
    QueryCase("q_slice_overlap", ((s, dir) =>
      Curation.sliceOverlap(t(s, dir, "documents"), "source", "text",
          k = 3, maxSlices = 2)
        .presented("src_a", "src_b")),
      s"""WITH tk AS (SELECT source, $tokensSql AS t FROM documents),
         | sh AS (SELECT DISTINCT source AS src, unnest($shingleSetSql) AS g
         |   FROM tk),
         | sv AS (SELECT g FROM (SELECT g, count(*) AS ns FROM sh GROUP BY g)
         |   WHERE ns <= 2),
         | ke AS (SELECT sh.src, sh.g FROM sh JOIN sv USING (g)),
         | tot AS (SELECT src, count(*) AS n FROM ke GROUP BY src),
         | pr AS (SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
         |   FROM ke a JOIN ke b ON a.g = b.g AND a.src < b.src
         |   GROUP BY 1, 2)
         | SELECT pr.src_a, pr.src_b, pr.n_shared, ta.n AS n_a, tb.n AS n_b,
         |   pr.n_shared::DOUBLE / (ta.n + tb.n - pr.n_shared) AS jaccard,
         |   pr.n_shared::DOUBLE / least(ta.n, tb.n) AS overlap
         | FROM pr JOIN tot ta ON pr.src_a = ta.src
         |   JOIN tot tb ON pr.src_b = tb.src
         | ORDER BY src_a, src_b""".stripMargin),

    // SemDeDup (Abbas et al. 2023): cluster-then-exact-cosine semantic
    // dedup. Corpus augmented with known duplicates (q_embed_dupes'
    // convention) so positives exist; centroids are the deterministic
    // vec_id<8 seeds (q_knn_assign's convention); participation cap 40
    // genuinely triggers at sf0.01 (~60 vectors/cluster), so the capped
    // branch carries oracle traffic too. Emitted columns are integers only
    // — cosine enters solely through ≥-threshold comparisons, which both
    // engines decide identically (bit-identical double cosine, proven by
    // q_embed_dupes).
    // Contrastive triplet mining: best near-dup positive (identical-vector
    // regime at this scale — the q_semantic_dedup blocking contract) plus
    // a deterministic md5-ring in-batch negative with an audit bit. Exact
    // oracle: quadratic cosine for positives, the same ring replayed.
    QueryCase("q_contrastive_triplets", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val aug = emb.unionByName(emb.where(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 1000000L))
      Similarity.contrastiveTriplets(aug, "vec_id", "embedding",
          posThreshold = 0.99)
        .presented("anchor_id")
    }),
      """WITH aug AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
        |       UNION ALL
        |       SELECT vec_id + 1000000, embedding FROM embeddings
        |       WHERE vec_id < 10),
        | p AS (SELECT a.vec_id AS anchor_id, b.vec_id AS pos_id,
        |     round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |       CAST(b.embedding AS DOUBLE[])), 6) AS rcos
        |   FROM aug a JOIN aug b ON a.vec_id <> b.vec_id
        |   WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |     CAST(b.embedding AS DOUBLE[])) >= 0.99),
        | best AS (SELECT anchor_id, pos_id, rcos AS pos_cos FROM (
        |     SELECT anchor_id, pos_id, rcos, row_number() OVER (
        |       PARTITION BY anchor_id ORDER BY rcos DESC, pos_id) AS rn
        |     FROM p) WHERE rn = 1),
        | ring0 AS (SELECT vec_id AS id,
        |     substr(md5(vec_id::VARCHAR || '-graft-ring'), 1, 12) AS draw
        |   FROM aug),
        | ring AS (SELECT id AS anchor_id,
        |     coalesce(
        |       lead(id) OVER (PARTITION BY substr(draw, 1, 1)
        |         ORDER BY draw, id),
        |       first_value(id) OVER (PARTITION BY substr(draw, 1, 1)
        |         ORDER BY draw, id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |       AS neg_id
        |   FROM ring0)
        | SELECT b.anchor_id, b.pos_id, b.pos_cos, r.neg_id,
        |   round(list_cosine_similarity(CAST(av.embedding AS DOUBLE[]),
        |     CAST(nv.embedding AS DOUBLE[])), 6) AS neg_cos,
        |   (r.neg_id <> b.anchor_id AND r.neg_id <> b.pos_id AND
        |    round(list_cosine_similarity(CAST(av.embedding AS DOUBLE[]),
        |      CAST(nv.embedding AS DOUBLE[])), 6) < 0.99)::INT AS neg_ok
        | FROM best b JOIN ring r USING (anchor_id)
        |   JOIN aug av ON av.vec_id = b.anchor_id
        |   JOIN aug nv ON nv.vec_id = r.neg_id
        | ORDER BY anchor_id""".stripMargin),

    // Capped triplets: positive candidates bounded per anchor by the N
    // smallest deterministic md5 pair-draws (k-bounded TopKByScore, never
    // a window), argmax among the kept set, with n_pos_candidates
    // auditing the true pre-cap mass. maxPositives = 3 genuinely binds at
    // sf0.01 (the planted +1000000 copies give their cluster ≥ 4
    // candidates each), so the capped branch carries oracle traffic.
    QueryCase("q_contrastive_triplets_capped", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val aug = emb.unionByName(emb.where(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 1000000L))
      Similarity.contrastiveTriplets(aug, "vec_id", "embedding",
          posThreshold = 0.99, maxPositivesPerAnchor = 3)
        .presented("anchor_id")
    }),
      // Capped replay: keep set = 3 smallest md5 pair-draws per anchor
      // (draw asc, pos_id asc — TopKByScore's (−draw desc, id asc) order),
      // argmax among kept, n_pos_candidates = the pre-cap count.
      """WITH aug AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
        |       UNION ALL
        |       SELECT vec_id + 1000000, embedding FROM embeddings
        |       WHERE vec_id < 10),
        | p AS (SELECT a.vec_id AS anchor_id, b.vec_id AS pos_id,
        |     round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |       CAST(b.embedding AS DOUBLE[])), 6) AS rcos
        |   FROM aug a JOIN aug b ON a.vec_id <> b.vec_id
        |   WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |     CAST(b.embedding AS DOUBLE[])) >= 0.99),
        | d AS (SELECT anchor_id, pos_id, rcos,
        |     CAST(('0x' || substr(md5(anchor_id::VARCHAR || '-' ||
        |       pos_id::VARCHAR || '-graft-ring-cap'), 1, 13)) AS BIGINT)
        |       AS draw,
        |     count(*) OVER (PARTITION BY anchor_id) AS n_cand
        |   FROM p),
        | kept AS (SELECT anchor_id, pos_id, rcos, n_cand FROM (
        |     SELECT *, row_number() OVER (PARTITION BY anchor_id
        |       ORDER BY draw, pos_id) AS rn FROM d) WHERE rn <= 3),
        | best AS (SELECT anchor_id, pos_id, rcos AS pos_cos, n_cand FROM (
        |     SELECT anchor_id, pos_id, rcos, n_cand, row_number() OVER (
        |       PARTITION BY anchor_id ORDER BY rcos DESC, pos_id) AS rn2
        |     FROM kept) WHERE rn2 = 1),
        | ring0 AS (SELECT vec_id AS id,
        |     substr(md5(vec_id::VARCHAR || '-graft-ring'), 1, 12) AS draw
        |   FROM aug),
        | ring AS (SELECT id AS anchor_id,
        |     coalesce(
        |       lead(id) OVER (PARTITION BY substr(draw, 1, 1)
        |         ORDER BY draw, id),
        |       first_value(id) OVER (PARTITION BY substr(draw, 1, 1)
        |         ORDER BY draw, id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |       AS neg_id
        |   FROM ring0)
        | SELECT b.anchor_id, b.pos_id, b.pos_cos, r.neg_id,
        |   round(list_cosine_similarity(CAST(av.embedding AS DOUBLE[]),
        |     CAST(nv.embedding AS DOUBLE[])), 6) AS neg_cos,
        |   CAST(b.n_cand AS BIGINT) AS n_pos_candidates,
        |   (r.neg_id <> b.anchor_id AND r.neg_id <> b.pos_id AND
        |    round(list_cosine_similarity(CAST(av.embedding AS DOUBLE[]),
        |      CAST(nv.embedding AS DOUBLE[])), 6) < 0.99)::INT AS neg_ok
        | FROM best b JOIN ring r USING (anchor_id)
        |   JOIN aug av ON av.vec_id = b.anchor_id
        |   JOIN aug nv ON nv.vec_id = r.neg_id
        | ORDER BY anchor_id""".stripMargin),

    QueryCase("q_semantic_dedup", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val aug = emb.unionByName(emb.where(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 1000000L))
      val centers = emb.where(col("vec_id") < 8)
        .select(col("vec_id").cast("int"), col("embedding"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).toIndexedSeq
      ops.SemDedup.semanticDedup(aug, "vec_id", "embedding", centers,
          threshold = 0.95, maxClusterSize = 40)
        .select(col("vec_id"), col("cell").cast("int").as("cell"),
          col("keep").cast("int").as("keep"))
        .presented("vec_id")
    }),
      """WITH aug AS (SELECT vec_id, embedding FROM embeddings
        |       UNION ALL
        |       SELECT vec_id + 1000000, embedding FROM embeddings
        |       WHERE vec_id < 10),
        | c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |     FROM embeddings WHERE vec_id < 8),
        | s AS (SELECT a.vec_id, c.cell,
        |     CASE WHEN isnan(list_cosine_similarity(
        |              CAST(a.embedding AS DOUBLE[]), c.cv))
        |          THEN 0.0
        |          ELSE list_cosine_similarity(
        |              CAST(a.embedding AS DOUBLE[]), c.cv) END AS score
        |   FROM aug a CROSS JOIN c),
        | asg AS (SELECT vec_id, cell FROM (
        |     SELECT vec_id, cell, row_number()
        |         OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
        |     FROM s)
        |   WHERE rn = 1),
        | av AS (SELECT asg.vec_id, asg.cell,
        |     CAST(a.embedding AS DOUBLE[]) AS v
        |   FROM asg JOIN aug a USING (vec_id)),
        | part AS (SELECT vec_id, cell, v FROM (
        |     SELECT vec_id, cell, v, row_number()
        |         OVER (PARTITION BY cell ORDER BY vec_id) AS rn
        |     FROM av)
        |   WHERE rn <= 40),
        | drops AS (SELECT DISTINCT b.vec_id
        |   FROM part a JOIN part b
        |     ON a.cell = b.cell AND a.vec_id < b.vec_id
        |   WHERE list_cosine_similarity(a.v, b.v) >= 0.95)
        | SELECT asg.vec_id, asg.cell::INT AS cell,
        |   CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
        | FROM asg LEFT JOIN drops d USING (vec_id)
        | ORDER BY asg.vec_id""".stripMargin),

    // Approximate k-NN graph (LSH candidates + one NN-descent round) vs
    // in-job exact brute force — the established ANN recall harness: the
    // oracle recomputes n_true_pairs (every vector has exactly k true
    // neighbors) and asserts the recall bit.
    QueryCase("q_knn_graph", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // Truth on a 100-node probe set (exact top-k there is the harness
      // cost, not the operator's); the graph itself is built corpus-wide.
      val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 100), "vec_id", "embedding", k = 10)
        .select(col("query_id").as("id"), col("neighbor_id"))
      val approx = Similarity.knnGraph(emb, "vec_id", "embedding", k = 10)
      recallReport(truth, approx, Seq("id", "neighbor_id"),
        minRecall = 0.5, nName = "n_true_pairs")
    }),
      """SELECT 10 * count(*) AS n_true_pairs, 1 AS recall_pass
        | FROM embeddings WHERE vec_id < 100""".stripMargin),

    // The n = 10⁹ scale path for the k-NN graph: pre-sharded by IVF cell
    // (cell-prefixed LSH buckets, nprobe spill for cross-cell stitching,
    // global NN-descent) — same recall harness and oracle shape as
    // q_knn_graph. Measured recall at sf0.01 is ~0.9 (above the global
    // variant); 0.6 guards regressions across the quantizer's sampling.
    QueryCase("q_knn_graph_sharded", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 100), "vec_id", "embedding", k = 10)
        .select(col("query_id").as("id"), col("neighbor_id"))
      val approx = Similarity.knnGraphSharded(emb, "vec_id", "embedding", k = 10,
        prebuiltIndex = Some(knnIvfIndexFor(s, dir)))
      recallReport(truth, approx, Seq("id", "neighbor_id"),
        minRecall = 0.6, nName = "n_true_pairs")
    }),
      """SELECT 10 * count(*) AS n_true_pairs, 1 AS recall_pass
        | FROM embeddings WHERE vec_id < 100""".stripMargin),

    // Incremental (cross-corpus) semantic dedup: candidates = the "new
    // crawl" half plus 5 planted copies of reference vectors; reference =
    // the kept half. Same engine-reproducible integer-only output as
    // q_semantic_dedup.
    QueryCase("q_cross_dedup", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ref = emb.where(col("vec_id") < 250)
      val cand = emb.where(col("vec_id") >= 250)
        .unionByName(emb.where(col("vec_id") < 5)
          .withColumn("vec_id", col("vec_id") + 1000000L))
      val centers = emb.where(col("vec_id") < 8)
        .select(col("vec_id").cast("int"), col("embedding"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).toIndexedSeq
      ops.SemDedup.crossSemanticDedup(cand, ref, "vec_id", "embedding",
          centers, threshold = 0.95, maxClusterSize = 40)
        .select(col("vec_id"), col("cell").cast("int").as("cell"),
          col("keep").cast("int").as("keep"))
        .presented("vec_id")
    }),
      """WITH cand AS (SELECT vec_id, embedding FROM embeddings
        |       WHERE vec_id >= 250
        |       UNION ALL
        |       SELECT vec_id + 1000000, embedding FROM embeddings
        |       WHERE vec_id < 5),
        | ref AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 250),
        | c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |     FROM embeddings WHERE vec_id < 8),
        | sc AS (SELECT a.vec_id, c.cell,
        |     CASE WHEN isnan(list_cosine_similarity(
        |              CAST(a.embedding AS DOUBLE[]), c.cv))
        |          THEN 0.0
        |          ELSE list_cosine_similarity(
        |              CAST(a.embedding AS DOUBLE[]), c.cv) END AS score
        |   FROM cand a CROSS JOIN c),
        | casg AS (SELECT vec_id, cell FROM (
        |     SELECT vec_id, cell, row_number()
        |         OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
        |     FROM sc)
        |   WHERE rn = 1),
        | sr AS (SELECT a.vec_id, c.cell,
        |     CASE WHEN isnan(list_cosine_similarity(
        |              CAST(a.embedding AS DOUBLE[]), c.cv))
        |          THEN 0.0
        |          ELSE list_cosine_similarity(
        |              CAST(a.embedding AS DOUBLE[]), c.cv) END AS score
        |   FROM ref a CROSS JOIN c),
        | rasg AS (SELECT vec_id, cell FROM (
        |     SELECT vec_id, cell, row_number()
        |         OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
        |     FROM sr)
        |   WHERE rn = 1),
        | rpart AS (SELECT vec_id, cell, v FROM (
        |     SELECT rasg.vec_id, rasg.cell,
        |         CAST(r.embedding AS DOUBLE[]) AS v, row_number()
        |         OVER (PARTITION BY rasg.cell ORDER BY rasg.vec_id) AS rn
        |     FROM rasg JOIN ref r USING (vec_id))
        |   WHERE rn <= 40),
        | cv AS (SELECT casg.vec_id, casg.cell,
        |     CAST(a.embedding AS DOUBLE[]) AS v
        |   FROM casg JOIN cand a USING (vec_id)),
        | drops AS (SELECT DISTINCT cv.vec_id
        |   FROM cv JOIN rpart ON cv.cell = rpart.cell
        |   WHERE list_cosine_similarity(cv.v, rpart.v) >= 0.95)
        | SELECT casg.vec_id, casg.cell::INT AS cell,
        |   CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
        | FROM casg LEFT JOIN drops d USING (vec_id)
        | ORDER BY casg.vec_id""".stripMargin),

    // Stupid-Backoff bigram LM, training side: the top-100 bigram counts
    // (the model's head — what a vocabulary/boilerplate audit reads first).
    // Exact integer oracle; ties in c2 break on (w1, w2) on both engines.
    QueryCase("q_lm_bigrams", ((s, dir) =>
      LanguageModel.trainBigram(t(s, dir, "documents"), "text")
        .bigrams.orderBy(desc("c2"), col("w1"), col("w2")).limit(100)),
      s"""WITH tr AS (SELECT $tokensSql AS t FROM documents),
         | bg AS (SELECT unnest([[t[i], t[i+1]] for i in range(1, len(t))]) AS p
         |   FROM tr),
         | bc AS (SELECT p[1] AS w1, p[2] AS w2, count(*) AS c2
         |   FROM bg GROUP BY 1, 2)
         | SELECT w1, w2, c2 FROM bc
         | ORDER BY c2 DESC, w1, w2 LIMIT 100""".stripMargin),

    // Stupid-Backoff LM scoring (CCNet-style perplexity quality filter):
    // train on the src0 slice, score every document, so the backoff path
    // carries real traffic. The registered columns are the exact-integer
    // coverage stats (bit-reproducible cross-engine); log10_ppl is
    // transcendental and is pinned by LanguageModelSpec instead.
    QueryCase("q_lm_score", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = LanguageModel.trainBigram(
        docs.where(col("source") === "src0"), "text")
      LanguageModel.scoreDocs(docs, "doc_id", "text", lm)
        .select(col("doc_id"), col("n_grams"), col("n_hit"),
          col("n_backoff"), col("coverage"))
        .presented("doc_id")
    }),
      s"""WITH tr AS (SELECT $tokensSql AS t FROM documents
         |     WHERE source = 'src0'),
         | bc AS (SELECT g, count(*) AS c2 FROM (
         |     SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))])
         |       AS g FROM tr) GROUP BY g),
         | tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
         | bg AS (SELECT doc_id,
         |     unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS g
         |   FROM tk),
         | j AS (SELECT bg.doc_id, bc.c2 FROM bg LEFT JOIN bc USING (g)),
         | per AS (SELECT doc_id, count(*) AS n_grams, count(c2) AS n_hit
         |   FROM j GROUP BY doc_id)
         | SELECT d.doc_id, coalesce(per.n_grams, 0) AS n_grams,
         |   coalesce(per.n_hit, 0) AS n_hit,
         |   coalesce(per.n_grams, 0) - coalesce(per.n_hit, 0) AS n_backoff,
         |   coalesce(per.n_hit, 0)::DOUBLE
         |     / greatest(coalesce(per.n_grams, 0), 1) AS coverage
         | FROM documents d LEFT JOIN per USING (doc_id)
         | ORDER BY d.doc_id""".stripMargin),

    // Interpolated Kneser-Ney bigram scoring with D = 3/4 — the discount
    // chosen so every per-token probability is an exact rational of
    // corpus counts: the oracle replays num/den/hit/unseen integer sums
    // bit-for-bit (logprob carries libm's ulp and stays out of the
    // projection; LanguageModelSpec pins it — the q_bm25 precedent).
    QueryCase("q_kn_score", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = LanguageModel.trainBigram(
        docs.where(col("source") === "src0"), "text")
      LanguageModel.kneserNeyScore(docs, "doc_id", "text", lm)
        .select(col("doc_id"), col("n_grams"), col("n_hit"),
          col("n_unseen_hist"), col("sum_num"), col("sum_den"))
        .presented("doc_id")
    }),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t, source FROM documents),
         | trg AS (SELECT unnest([[t[i], t[i+1]] for i in range(1, len(t))]) AS g
         |   FROM tk WHERE source = 'src0'),
         | uni AS (SELECT w, count(*) AS c1 FROM (
         |     SELECT unnest(t) AS w FROM tk WHERE source = 'src0') GROUP BY w),
         | bg AS (SELECT g[1] AS w1, g[2] AS w2, count(*) AS c2 FROM trg GROUP BY 1, 2),
         | fan AS (SELECT w1, count(*) AS n1f FROM bg GROUP BY w1),
         | con AS (SELECT w2, count(*) AS n1r FROM bg GROUP BY w2),
         | ty AS (SELECT count(*) AS n_types FROM bg),
         | dg AS (SELECT doc_id, g[1] AS w1, g[2] AS w2 FROM
         |   (SELECT doc_id, unnest([[t[i], t[i+1]] for i in range(1, len(t))]) AS g
         |    FROM tk)),
         | sc AS (SELECT doc_id,
         |     CASE WHEN u.c1 IS NOT NULL AND u.c1 > 0 THEN
         |       greatest(greatest(4*coalesce(b.c2, 0) - 3, 0) * ty.n_types
         |         + 3 * coalesce(f.n1f, 0) * coalesce(cn.n1r, 0), 1)
         |     WHEN coalesce(cn.n1r, 0) > 0 THEN 4 * cn.n1r ELSE 1 END AS num,
         |     CASE WHEN u.c1 IS NOT NULL AND u.c1 > 0
         |       THEN 4 * u.c1 * ty.n_types ELSE 4 * ty.n_types END AS den,
         |     CASE WHEN b.c2 IS NOT NULL THEN 1 ELSE 0 END AS hit,
         |     CASE WHEN u.c1 IS NULL OR u.c1 = 0 THEN 1 ELSE 0 END AS unseen
         |   FROM dg LEFT JOIN bg b ON dg.w1 = b.w1 AND dg.w2 = b.w2
         |     LEFT JOIN uni u ON dg.w1 = u.w
         |     LEFT JOIN fan f ON dg.w1 = f.w1
         |     LEFT JOIN con cn ON dg.w2 = cn.w2, ty),
         | agg AS (SELECT doc_id, count(*) AS n_grams,
         |     CAST(sum(hit) AS BIGINT) AS n_hit,
         |     CAST(sum(unseen) AS BIGINT) AS n_unseen_hist,
         |     CAST(sum(num) AS BIGINT) AS sum_num,
         |     CAST(sum(den) AS BIGINT) AS sum_den
         |   FROM sc GROUP BY doc_id)
         | SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
         |   coalesce(n_hit, 0) AS n_hit,
         |   coalesce(n_unseen_hist, 0) AS n_unseen_hist,
         |   coalesce(sum_num, 0) AS sum_num, coalesce(sum_den, 0) AS sum_den
         | FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
         | ORDER BY d.doc_id""".stripMargin),

    // Greedy bigram continuation (deterministic LM generation): every
    // document's last token extended 6 argmax steps from the src0
    // model; ties break lexicographically, so the oracle unrolls the 6
    // joins and replays every generated string byte-for-byte.
    QueryCase("q_lm_generate", ((s, dir) => {
      val docs = t(s, dir, "documents")
      LanguageModel.greedyContinuation(docs, "doc_id", "text",
          docs.where(col("source") === "src0"), steps = 6)
        .presented("doc_id")
    }),
      {
      val steps = (1 to 6).map { i =>
        s""",
           | s$i AS MATERIALIZED (SELECT doc_id, seed, b.nxt AS w,
           |     CASE WHEN b.nxt IS NOT NULL THEN
           |       CASE WHEN gen = '' THEN b.nxt
           |         ELSE gen || ' ' || b.nxt END
           |       ELSE gen END AS gen,
           |     n + CASE WHEN b.nxt IS NOT NULL THEN 1 ELSE 0 END AS n
           |   FROM s${i - 1} LEFT JOIN best b ON s${i - 1}.w = b.w1)"""
          .stripMargin
      }.mkString
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t, source
         |     FROM documents),
         | bg AS MATERIALIZED (SELECT g[1] AS w1, g[2] AS w2,
         |     count(*) AS c2 FROM (
         |     SELECT unnest([[t[i], t[i+1]] for i in range(1, len(t))])
         |       AS g
         |     FROM tk WHERE source = 'src0') GROUP BY 1, 2),
         | best AS MATERIALIZED (SELECT w1, w2 AS nxt FROM (
         |     SELECT w1, w2, row_number() OVER (PARTITION BY w1
         |       ORDER BY c2 DESC, w2) AS rn FROM bg)
         |   WHERE rn = 1),
         | s0 AS MATERIALIZED (SELECT doc_id, t[len(t)] AS seed,
         |     t[len(t)] AS w, '' AS gen, 0 AS n
         |   FROM tk WHERE len(t) > 0)$steps
         | SELECT doc_id, seed, gen AS continuation, CAST(n AS BIGINT)
         |   AS n_gen
         | FROM s6 ORDER BY doc_id""".stripMargin
    }),

    // Hill tail-index of the token frequency distribution — the
    // dataset-card power-law exponent (sizes stopword cutoffs, salting
    // plans, cache ceilings). k-bounded TakeOrdered selection; each ln
    // term integerized round(1e6·ln) (the PMI policy).
    QueryCase("q_hill_tail", ((s, dir) =>
      Stats.hillTailIndex(
        t(s, dir, "documents").select(
          explode(TextAnalysis.tokens(col("text"))).as("w")),
        "w", k = 20)),
      s"""WITH c AS (SELECT token AS key, count(*) AS c FROM (
         |     SELECT unnest($tokensSql) AS token FROM documents)
         |   GROUP BY 1),
         | r AS (SELECT c, row_number() OVER (ORDER BY c DESC, key) AS rn
         |   FROM (SELECT * FROM c ORDER BY c DESC, key LIMIT 21)),
         | tl AS (SELECT c AS tail FROM r WHERE rn = 21),
         | s AS (SELECT CAST(sum(CAST(round(1000000 *
         |       ln(r.c::DOUBLE / tl.tail)) AS BIGINT)) AS BIGINT) AS hs
         |   FROM r, tl WHERE rn <= 20)
         | SELECT 20 AS k, (SELECT count(*) FROM c) AS n_keys,
         |   (SELECT CAST(tail AS BIGINT) FROM tl) AS c_tail,
         |   s.hs AS hill_sum_scaled, s.hs // 20 AS alpha_inv_scaled
         | FROM s""".stripMargin),

    // F1-optimal threshold election over binned classifier scores — the
    // filter-tuning curve: per candidate cut, exact ppm
    // precision/recall/F1 and the elected best row (ppm-rounded argmax,
    // ties to the lowest threshold — the election IS the contract).
    // Time-decayed freshness per event type (half-life 7 days against the
    // corpus max day): integer-shift decay staircase, one keyed agg — the
    // recency number a crawl scheduler ranks sources by.
    QueryCase("q_freshness", ((s, dir) =>
      Stats.decayedFreshness(events(s, dir), "event_type",
        expr("ts_ms DIV 86400000"), halfLifeDays = 7)),
      """WITH d AS (SELECT event_type,
        |     epoch_ms(ts) // 86400000 AS day FROM events),
        | mx AS (SELECT max(day) AS mx FROM d),
        | w AS (SELECT event_type,
        |     1000000 >> CAST(least((mx - day) // 7, 62) AS INT) AS w
        |   FROM d, mx),
        | g AS (SELECT event_type, count(*)::BIGINT AS n_events,
        |     sum(w)::BIGINT AS decayed_mass FROM w GROUP BY event_type)
        | SELECT event_type, n_events, decayed_mass,
        |   (decayed_mass // n_events)::BIGINT AS freshness_ppm
        | FROM g ORDER BY event_type""".stripMargin),

    // Clustering-vs-label agreement: purity + integer-exact NMI between
    // an 8-way arithmetic clustering and the language labels — the
    // external clustering scorecard (one |C|×|L|-bounded contingency).
    QueryCase("q_cluster_agreement", ((s, dir) =>
      Stats.clusteringAgreement(
        t(s, dir, "documents").select(
          ((col("doc_id") * 31) % 8).as("c"), col("lang")),
        col("c"), col("lang"))),
      """WITH d AS (SELECT (doc_id * 31) % 8 AS c, lang AS l FROM documents),
        | cm AS (SELECT c, l, count(*)::BIGINT AS n FROM d GROUP BY 1, 2),
        | a AS (SELECT c, sum(n)::BIGINT AS a, max(n)::BIGINT AS mx
        |   FROM cm GROUP BY c),
        | b AS (SELECT l, sum(n)::BIGINT AS b FROM cm GROUP BY l),
        | t AS (SELECT sum(n)::BIGINT AS t FROM cm),
        | iw AS (SELECT sum(cm.n::HUGEINT * CAST(round(1000000e0 * ln(
        |       CAST(cm.n * t.t AS DOUBLE) / CAST(a.a * b.b AS DOUBLE)))
        |     AS HUGEINT)) AS inum
        |   FROM cm JOIN a USING (c) JOIN b USING (l), t),
        | hc AS (SELECT sum(a::HUGEINT * CAST(round(1000000e0 * ln(
        |       CAST(t.t AS DOUBLE) / a)) AS HUGEINT)) AS hc FROM a, t),
        | hl AS (SELECT sum(b::HUGEINT * CAST(round(1000000e0 * ln(
        |       CAST(t.t AS DOUBLE) / b)) AS HUGEINT)) AS hl FROM b, t),
        | p AS (SELECT sum(mx)::HUGEINT AS pm FROM a)
        | SELECT t.t AS n,
        |   CAST((p.pm * 1000000) // t.t AS BIGINT) AS purity_ppm,
        |   CAST(CASE WHEN hc.hc + hl.hl = 0 THEN 0
        |     WHEN iw.inum < 0
        |       THEN -(((-iw.inum) * 2000000) // (hc.hc + hl.hl))
        |     ELSE (iw.inum * 2000000) // (hc.hc + hl.hl)
        |   END AS BIGINT) AS nmi_ppm
        | FROM t, p, iw, hc, hl""".stripMargin),

    // Calibration report (ECE + Murphy decomposition) over the same
    // binned-score fixture: the measurement side of the calibration
    // family (PAV is the fixer) — one bin-bounded histogram agg.
    QueryCase("q_calibration", ((s, dir) =>
      Stats.calibrationReport(
        t(s, dir, "documents").select(
          ((col("doc_id") * 31) % 20).as("bin"),
          (((col("doc_id") * 37) % 100) <
            (lit(20) + lit(3) * ((col("doc_id") * 31) % 20)))
            .cast("int").as("y")),
        col("bin"), col("y"), nBins = 20)),
      """WITH d AS (SELECT (doc_id * 31) % 20 AS b,
        |     CASE WHEN (doc_id * 37) % 100 < 20 + 3 * ((doc_id * 31) % 20)
        |       THEN 1 ELSE 0 END AS y FROM documents),
        | h AS (SELECT b, count(*)::BIGINT AS n, sum(y)::BIGINT AS p
        |   FROM d GROUP BY b),
        | t AS (SELECT sum(n)::BIGINT AS nt, sum(p)::BIGINT AS pt FROM h),
        | s AS (SELECT b, n, p, nt, pt,
        |     ((2 * b + 1) * 1000000) // 40 AS c,
        |     (pt * 1000000) // nt AS ybar FROM h, t),
        | e AS (SELECT n, nt, pt,
        |     abs(p::HUGEINT * 1000000 - c::HUGEINT * n) AS adc,
        |     ((p::HUGEINT * 1000000 - c::HUGEINT * n)
        |      * (p::HUGEINT * 1000000 - c::HUGEINT * n))
        |       // (n::HUGEINT * 1000000) AS rel,
        |     ((p::HUGEINT * 1000000 - ybar::HUGEINT * n)
        |      * (p::HUGEINT * 1000000 - ybar::HUGEINT * n))
        |       // (n::HUGEINT * 1000000) AS res
        |   FROM s),
        | g AS (SELECT any_value(nt) AS nt, any_value(pt) AS pt,
        |     sum(adc) AS sad, sum(rel) AS srel, sum(res) AS sres FROM e)
        | SELECT CAST(nt AS BIGINT) AS n, CAST(pt AS BIGINT) AS n_pos,
        |   CAST(sad // nt AS BIGINT) AS ece_ppm,
        |   CAST(srel // nt AS BIGINT) AS reliability_ppm,
        |   CAST(sres // nt AS BIGINT) AS resolution_ppm,
        |   CAST((pt::HUGEINT * (nt - pt) * 1000000)
        |     // (nt::HUGEINT * nt) AS BIGINT) AS uncertainty_ppm
        | FROM g""".stripMargin),

    // Exact AUC over the same binned-score fixture as q_f1_threshold:
    // Mann-Whitney rank statistic (ties half) from the bin histogram —
    // the threshold-free quality number next to the threshold election.
    QueryCase("q_auc", ((s, dir) =>
      Stats.aucBinned(
        t(s, dir, "documents").select(
          ((col("doc_id") * 31) % 20).as("bin"),
          (((col("doc_id") * 37) % 100) <
            (lit(20) + lit(3) * ((col("doc_id") * 31) % 20)))
            .cast("int").as("y")),
        col("bin"), col("y"))),
      """WITH d AS (SELECT (doc_id * 31) % 20 AS b,
        |     CASE WHEN (doc_id * 37) % 100 < 20 + 3 * ((doc_id * 31) % 20)
        |       THEN 1 ELSE 0 END AS y FROM documents),
        | h AS (SELECT b, sum(y)::BIGINT AS p,
        |     sum(1 - y)::BIGINT AS n FROM d GROUP BY b),
        | c AS (SELECT b, p, n, coalesce(sum(n) OVER (ORDER BY b
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
        |   FROM h),
        | a AS (SELECT sum(p)::HUGEINT AS n_pos, sum(n)::HUGEINT AS n_neg,
        |     sum(p::HUGEINT * (nb::HUGEINT * 2 + n)) AS u2 FROM c)
        | SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
        |   CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0
        |     ELSE (u2 * 1000000) // (2 * n_pos * n_neg) END AS BIGINT)
        |     AS auc_ppm
        | FROM a""".stripMargin),

    // Average precision (step-interpolated PR-AUC) over the q_auc score
    // family but a TIE-HEAVY correlated score: ROC-AUC is prevalence-
    // blind, AP weights precision at the positive mass — the published
    // metric for the tiny-positive-rate regime curation filters live in.
    // Exact integer: per-score-group ΔTP·TP·10¹² DIV (TP+FP) rationals
    // summed in DECIMAL(38,0); no floating point on either engine.
    QueryCase("q_pr_auc", ((s, dir) =>
      Stats.averagePrecision(
        t(s, dir, "documents").select(
          (col("n_chars") - pmod(col("doc_id") * 7, lit(50L))).as("s"),
          (col("n_chars") >= 200).cast("int").as("y")),
        col("s"), col("y"), knownBinsAtMostMax = true)),
      """WITH d AS (SELECT n_chars - ((doc_id * 7 % 50) + 50) % 50 AS s,
        |     CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS y
        |   FROM documents),
        | h AS (SELECT s, sum(y)::BIGINT AS p,
        |     sum(1 - y)::BIGINT AS n FROM d GROUP BY s),
        | cum AS (SELECT p, n,
        |     sum(p) OVER (ORDER BY s DESC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        |     sum(n) OVER (ORDER BY s DESC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
        |   FROM h),
        | g AS (SELECT sum(p + n)::BIGINT AS n, sum(p)::BIGINT AS n_pos,
        |     sum((p::HUGEINT * tp * 1000000000000) // (tp + fp)) AS ap
        |   FROM cum)
        | SELECT n, n_pos,
        |   CAST(CASE WHEN n_pos = 0 THEN 0
        |     ELSE ap // (n_pos::HUGEINT * 1000000) END AS BIGINT) AS ap_ppm
        | FROM g""".stripMargin),

    // Matryoshka truncation-recall audit: exact brute-force top-5 under
    // PREFIX-truncated cosine (4/8/16 of 64 dims) vs full-dim truth on
    // the deterministic xxhash64 query sample — pricing the dimension-
    // slashing scale path before a fleet adopts it. This corpus is NOT
    // MRL-trained, so truncated recall is LOW (the audit's honest
    // finding; SCALING.md); the oracle pins the structural rows and the
    // full-dim self-check (recall ≡ 1.0 by construction at dim = 64).
    // r14 FULL VALUE oracle (upgraded twice this round): the audit's
    // sample draw moved to the md5-48 kmv convention, so DuckDB replays
    // the ENTIRE chain — sample election, exact full-dim f64 cosine
    // top-5, prefix-truncated top-5 per dim, per-query hits — and every
    // mean/min recall VALUE hash-matches (verified bit-equal: both
    // engines upcast float→double and fold sequentially, so the cosine
    // doubles are identical). No pinned bits anywhere.
    QueryCase("q_matryoshka_recall", ((s, dir) =>
      Similarity.truncationRecallAudit(t(s, dir, "embeddings"), "vec_id",
          "embedding", Seq(4, 8, 16), k = 5, sample = 10)
        .select(col("dim"), col("n_queries"), col("k"),
          col("mean_recall_ppm"), col("min_recall_ppm"))),
      matryoshkaOracleSql(Seq(4, 8, 16, 64),
      k = 5, sample = 10, seed = 42L)),

    QueryCase("q_f1_threshold", ((s, dir) =>
      Stats.f1Threshold(
        t(s, dir, "documents").select(
          ((col("doc_id") * 31) % 20).as("bin"),
          (((col("doc_id") * 37) % 100) <
            (lit(20) + lit(3) * ((col("doc_id") * 31) % 20)))
            .cast("int").as("y")),
        "bin", "y")
        .presented("threshold")),
      """WITH d AS (SELECT (doc_id * 31) % 20 AS bin,
        |     CASE WHEN (doc_id * 37) % 100 < 20 + 3 * ((doc_id * 31) % 20)
        |       THEN 1 ELSE 0 END AS y
        |   FROM documents),
        | a AS (SELECT bin, count(*) AS n, sum(y) AS p FROM d GROUP BY bin),
        | c AS (SELECT bin,
        |     sum(p) OVER (ORDER BY bin DESC) AS tp,
        |     sum(n) OVER (ORDER BY bin DESC) AS kp,
        |     (SELECT sum(p) FROM a) AS tpos
        |   FROM a),
        | e AS (SELECT bin AS threshold, tp, kp - tp AS fp,
        |     tpos - tp AS fn,
        |     CASE WHEN kp = 0 THEN 0
        |          ELSE (tp * 1000000) // kp END AS precision_ppm,
        |     CASE WHEN tpos = 0 THEN 0
        |          ELSE (tp * 1000000) // tpos END AS recall_ppm,
        |     CASE WHEN tp + kp + tpos - tp = 0 THEN 0
        |          ELSE (2 * tp * 1000000) // (kp + tpos) END AS f1_ppm
        |   FROM c),
        | b AS (SELECT threshold AS bt FROM e
        |   ORDER BY f1_ppm DESC, threshold ASC LIMIT 1)
        | SELECT threshold, CAST(tp AS BIGINT) AS tp,
        |   CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
        |   CAST(precision_ppm AS BIGINT) AS precision_ppm,
        |   CAST(recall_ppm AS BIGINT) AS recall_ppm,
        |   CAST(f1_ppm AS BIGINT) AS f1_ppm,
        |   CAST((threshold = (SELECT bt FROM b)) AS INT) AS is_best
        | FROM e ORDER BY threshold""".stripMargin),

    // Isotonic calibration (PAV): per-bin empirical label means pooled to
    // the unique monotone fit — the quality-classifier calibration step.
    // Bins and labels are id-synthesized with a deliberately NON-monotone
    // rate pattern so pooling genuinely triggers; cross-multiplied
    // integer pooling replays bit-for-bit via ≤ |bins|−1 unrolled
    // leftmost-merge rounds (merge order cannot change the unique fit).
    QueryCase("q_pav_calibrate", ((s, dir) => {
      val rates = Seq(10, 40, 30, 35, 80, 70, 75, 90)
      Stats.pavCalibrate(
        t(s, dir, "documents").select(
          (col("doc_id") % 8).as("bin"),
          (((col("doc_id") * 37) % 100) <
            element_at(typedLit(rates), (col("doc_id") % 8 + 1).cast("int")))
            .cast("int").as("y")),
        "bin", "y")
        .presented("bin")
    }),
      pavOracleSql(7)),

    // DoReMi domain reweighting (Xie et al. 2023): multiplicative-weights
    // rounds over per-domain mean excess loss, int64 fixed-point
    // throughout (Hedge linear update instead of exp — libm exp is not
    // correctly rounded), smoothing toward uniform each round. The
    // per-doc excess here is id-synthesized (the q_pagerank fixture
    // convention); domains = lang. Fully oracled: 5 unrolled CTE rounds
    // replay every weight bit-for-bit.
    QueryCase("q_doremi", ((s, dir) =>
      Curation.doremiWeights(
        t(s, dir, "documents").select(col("lang"),
          ((col("doc_id") * 7919) % 2001 - 1000).as("excess")),
        "lang", "excess", rounds = 5, etaNum = 200L, etaDen = 1L)
        .presented("domain")),
      doremiOracleSql(5)),

    // CCNet head/middle/tail (Wenzek et al. 2020): per-LANGUAGE KN
    // quality terciles, reference slice = src0, all per-lang LMs trained
    // in one lang-keyed aggregation pass. The ranking score
    // sum_num/sum_den is an IEEE division of the exact KN integer sums,
    // so both engines rank identically (doc_id breaks duplicate-text
    // ties) and ntile replays bit-for-bit.
    QueryCase("q_ppl_buckets", ((s, dir) =>
      LanguageModel.perplexityBuckets(t(s, dir, "documents"),
          "doc_id", "text", "lang", col("source") === "src0")
        .presented("doc_id")),
      s"""WITH tk AS (SELECT doc_id, lang, $tokensSql AS t, source
         |     FROM documents),
         | trg AS (SELECT lang,
         |     unnest([[t[i], t[i+1]] for i in range(1, len(t))]) AS g
         |   FROM tk WHERE source = 'src0'),
         | uni AS (SELECT lang, w, count(*) AS c1 FROM (
         |     SELECT lang, unnest(t) AS w FROM tk WHERE source = 'src0')
         |   GROUP BY lang, w),
         | bg AS (SELECT lang, g[1] AS w1, g[2] AS w2, count(*) AS c2
         |   FROM trg GROUP BY 1, 2, 3),
         | fan AS (SELECT lang, w1, count(*) AS n1f FROM bg GROUP BY lang, w1),
         | con AS (SELECT lang, w2, count(*) AS n1r FROM bg GROUP BY lang, w2),
         | ty AS (SELECT lang, count(*) AS n_types FROM bg GROUP BY lang),
         | dg AS (SELECT doc_id, lang, g[1] AS w1, g[2] AS w2 FROM
         |   (SELECT doc_id, lang,
         |       unnest([[t[i], t[i+1]] for i in range(1, len(t))]) AS g
         |    FROM tk)),
         | sc AS (SELECT dg.doc_id,
         |     CASE WHEN u.c1 IS NOT NULL AND u.c1 > 0 THEN
         |       greatest(greatest(4*coalesce(b.c2, 0) - 3, 0)
         |           * greatest(coalesce(t2.n_types, 0), 1)
         |         + 3 * coalesce(f.n1f, 0) * coalesce(cn.n1r, 0), 1)
         |     WHEN coalesce(cn.n1r, 0) > 0 THEN 4 * cn.n1r ELSE 1 END AS num,
         |     CASE WHEN u.c1 IS NOT NULL AND u.c1 > 0
         |       THEN 4 * u.c1 * greatest(coalesce(t2.n_types, 0), 1)
         |       ELSE 4 * greatest(coalesce(t2.n_types, 0), 1) END AS den
         |   FROM dg LEFT JOIN bg b
         |       ON dg.lang = b.lang AND dg.w1 = b.w1 AND dg.w2 = b.w2
         |     LEFT JOIN uni u ON dg.lang = u.lang AND dg.w1 = u.w
         |     LEFT JOIN fan f ON dg.lang = f.lang AND dg.w1 = f.w1
         |     LEFT JOIN con cn ON dg.lang = cn.lang AND dg.w2 = cn.w2
         |     LEFT JOIN ty t2 ON dg.lang = t2.lang),
         | agg AS (SELECT doc_id, count(*) AS n_grams,
         |     CAST(sum(num) AS BIGINT) AS sum_num,
         |     CAST(sum(den) AS BIGINT) AS sum_den
         |   FROM sc GROUP BY doc_id),
         | sco AS (SELECT d.doc_id, d.lang,
         |     coalesce(n_grams, 0) AS n_grams,
         |     coalesce(sum_num, 0) AS sum_num,
         |     coalesce(sum_den, 0) AS sum_den,
         |     CASE WHEN coalesce(sum_den, 0) > 0
         |       THEN CAST(sum_num AS DOUBLE) / CAST(sum_den AS DOUBLE)
         |       ELSE 0.0e0 END AS quality
         |   FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id),
         | bk AS (SELECT *, ntile(3) OVER (PARTITION BY lang
         |     ORDER BY quality DESC, doc_id) AS bucket FROM sco)
         | SELECT doc_id, lang, n_grams, sum_num, sum_den, quality, bucket,
         |   CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail'
         |     ELSE 'middle' END AS tier
         | FROM bk ORDER BY doc_id""".stripMargin),

    // Integer fixed-point PageRank over a synthesized 100-node domain
    // link graph (a pure function of doc_id, so DuckDB rebuilds the same
    // edges) — the link-centrality quality signal of web curation. Every
    // step is positive-int64 floor division and sums, so the oracle
    // (3 unrolled CTE iterations) replays each rank bit-for-bit.
    QueryCase("q_pagerank", ((s, dir) => {
      val e = t(s, dir, "documents")
        .select((col("doc_id") % 100).as("src"),
          ((col("doc_id") * 31 + 7) % 100).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
      Graph.pageRank(e, "src", "dst", iters = 3)
        .presented("id")
    }),
      pageRankOracleSql(3)),

    // Triangle census of the same synthesized domain graph: oriented
    // wedge join (each triangle one (source,middle,sink) realization —
    // the O(m^1.5) bound). Count is orientation-invariant, so the oracle
    // replays it with the id-ordered canonical 3-way join.
    // k-core of a denser synthetic domain graph (two hash-derived edge
    // families per doc): iterative peel until fixpoint — the web-graph
    // density filter. Oracle: the peel unrolls as 8 guarded rounds
    // (no-ops past the fixpoint; engine asserts convergence).
    QueryCase("q_kcore", ((s, dir) => {
      val d = t(s, dir, "documents")
      val e = d.select((col("doc_id") % 100).as("src"),
          ((col("doc_id") * 31 + 7) % 100).as("dst"))
        .unionByName(d.select((col("doc_id") % 100).as("src"),
          ((col("doc_id") * 17 + 3) % 100).as("dst")))
        .where(col("src") =!= col("dst"))
      Graph.kCore(e, "src", "dst", k = 3).presented("vertex")
    }),
      kCoreOracleSql(3, 8)),

    // k-truss of the same synthetic domain graph (r14): every surviving
    // edge closes >= k-2 triangles INSIDE the subgraph — the cohesion
    // tier above q_kcore's degree peel (trusses drop well-connected
    // BRIDGE edges a degree test keeps). Synchronous peel to fixpoint;
    // the oracle unrolls 8 guarded rounds (no-ops past the fixpoint,
    // engine asserts convergence) and re-derives the fixpoint support.
    // The PLAIN 100-vertex functional graph is triangle-free at every sf
    // (measured), so the truss runs on the GROWING dense domain graph
    // (the q_kcore_scaled fixture), where k = 5 actually peels (29 → 19
    // edges at sf0.01) and fixpoint lands well inside the oracle's 8
    // unrolled rounds at all three SFs.
    QueryCase("q_ktruss", ((s, dir) =>
      Graph.kTruss(scaledDomainEdges(s, dir, dense = true), "src", "dst",
        k = 5).presented("u", "v")),
      kTrussOracleSql(5, 8, ScaledVSql, ScaledU0, ScaledV1,
      ScaledV2)),

    // Label-propagation communities over the same dense synthetic
    // domain graph as q_kcore: 4 fixed synchronous sweeps, neighbor-
    // frequency argmax with min-label tie-break — fully deterministic,
    // so the oracle unrolls the recursion (4 materialized CTE rounds)
    // and replays every vertex's community bit-for-bit.
    QueryCase("q_label_prop", ((s, dir) => {
      val d = t(s, dir, "documents")
      val e = d.select((col("doc_id") % 100).as("src"),
          ((col("doc_id") * 31 + 7) % 100).as("dst"))
        .unionByName(d.select((col("doc_id") % 100).as("src"),
          ((col("doc_id") * 17 + 3) % 100).as("dst")))
        .where(col("src") =!= col("dst"))
      Graph.labelPropagation(e, "src", "dst", rounds = 4)
        .presented("vertex")
    }),
      labelPropOracleSql(4)),

    QueryCase("q_triangles", ((s, dir) => {
      val e = t(s, dir, "documents")
        .select((col("doc_id") % 100).as("src"),
          ((col("doc_id") * 31 + 7) % 100).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
      Graph.triangleCount(e, "src", "dst")
    }),
      trianglesOracleSql()),

    // GROWING-graph variants: |V| = docs/50 (floor 10) so vertex and edge
    // sets scale WITH the corpus — the fixed mod-100 fixtures pin the
    // plan shape but are size-invariant, which made the graph family's sf
    // rows vacuous as scaling evidence. Same operators, same oracles
    // (the modulus is derived identically by both engines), real growth.
    QueryCase("q_pagerank_scaled", ((s, dir) => {
      val e = scaledDomainEdges(s, dir, dense = false).distinct()
      Graph.pageRank(e, "src", "dst", iters = 3).presented("id")
    }),
      pageRankOracleSql(3, ScaledVSql, ScaledU0, ScaledV1)),
    // HITS hubs/authorities on the GROWING dense graph: fixed-point
    // max-normalized half-steps (DECIMAL normalize multiply — exact past
    // the int64 degree ceiling), RDD-snapshot per half-step so the plan
    // stays constant-size. The directory-vs-content curation signal
    // PageRank's single centrality can't give.
    QueryCase("q_hits", ((s, dir) =>
      Graph.hits(scaledDomainEdges(s, dir, dense = true).distinct(),
        "src", "dst", iters = 3).presented("id")),
      hitsOracleSql(3, ScaledVSql, ScaledU0, ScaledV1, ScaledV2)),

    QueryCase("q_kcore_scaled", ((s, dir) =>
      Graph.kCore(scaledDomainEdges(s, dir, dense = true), "src", "dst",
        k = 3).presented("vertex")),
      kCoreOracleSql(3, 8, ScaledVSql, ScaledU0, ScaledV1, ScaledV2)),
    QueryCase("q_label_prop_scaled", ((s, dir) =>
      Graph.labelPropagation(scaledDomainEdges(s, dir, dense = true),
        "src", "dst", rounds = 4).presented("vertex")),
      labelPropOracleSql(4, ScaledVSql, ScaledU0, ScaledV1, ScaledV2)),
    QueryCase("q_triangles_scaled", ((s, dir) =>
      Graph.triangleCount(
        scaledDomainEdges(s, dir, dense = false).distinct(), "src", "dst")),
      trianglesOracleSql(ScaledVSql, ScaledU0, ScaledV1)),

    // Adamic–Adar link prediction on the GROWING dense graph: top-100
    // non-edges by Σ round(1e6/ln(deg)) over common neighbors — integer
    // weights, hub-capped wedge mass, (score desc, u, v) total order.
    QueryCase("q_adamic_adar", ((s, dir) =>
      Graph.adamicAdar(scaledDomainEdges(s, dir, dense = true),
        "src", "dst", topK = 100)),
      s"""WITH nv AS MATERIALIZED (SELECT $ScaledVSql AS m),
         | e AS (SELECT DISTINCT least(u0, v0) AS u, greatest(u0, v0) AS v
         |   FROM (SELECT $ScaledU0 AS u0, $ScaledV1 AS v0
         |       FROM documents, nv
         |     UNION ALL SELECT $ScaledU0, $ScaledV2 FROM documents, nv)
         |   WHERE u0 <> v0),
         | adj AS (SELECT u AS w, v AS nb FROM e
         |   UNION ALL SELECT v, u FROM e),
         | ctr AS (SELECT w, CAST(round(1000000.0 /
         |       ln(CAST(count(*) AS DOUBLE))) AS BIGINT) AS aaw
         |   FROM adj GROUP BY w
         |   HAVING count(*) >= 2 AND count(*) <= 10000),
         | wed AS (SELECT a.nb AS u, b.nb AS v, ctr.aaw
         |   FROM adj a JOIN adj b ON a.w = b.w AND a.nb < b.nb
         |   JOIN ctr ON ctr.w = a.w),
         | sc AS (SELECT u, v, count(*)::BIGINT AS n_common,
         |     CAST(sum(aaw) AS BIGINT) AS aa_ppm FROM wed GROUP BY u, v)
         | SELECT sc.u, sc.v, sc.n_common, sc.aa_ppm
         | FROM sc LEFT JOIN e ON e.u = sc.u AND e.v = sc.v
         | WHERE e.u IS NULL
         | ORDER BY sc.aa_ppm DESC, sc.u, sc.v LIMIT 100""".stripMargin),

    // Degree assortativity (Newman r) on the GROWING dense graph: do hubs
    // link to hubs? pearsonCorr's DECIMAL moment kernel over endpoint
    // degrees of every directed edge instance; signed ppm r².
    QueryCase("q_assortativity", ((s, dir) =>
      Graph.degreeAssortativity(scaledDomainEdges(s, dir, dense = true),
        "src", "dst")),
      s"""WITH nv AS MATERIALIZED (SELECT $ScaledVSql AS m),
         | e AS (SELECT DISTINCT least(u0, v0) AS u, greatest(u0, v0) AS v
         |   FROM (SELECT $ScaledU0 AS u0, $ScaledV1 AS v0
         |       FROM documents, nv
         |     UNION ALL SELECT $ScaledU0, $ScaledV2 FROM documents, nv)
         |   WHERE u0 <> v0),
         | adj AS (SELECT u AS x, v AS y FROM e UNION ALL SELECT v, u FROM e),
         | deg AS (SELECT x AS id, count(*)::BIGINT AS d FROM adj GROUP BY x),
         | p AS (SELECT dx.d AS x, dy.d AS y FROM adj
         |   JOIN deg dx ON dx.id = adj.x JOIN deg dy ON dy.id = adj.y),
         | m AS (SELECT count(*)::HUGEINT AS n, sum(x::HUGEINT) AS sx,
         |     sum(y::HUGEINT) AS sy, sum(x::HUGEINT * x) AS sxx,
         |     sum(y::HUGEINT * y) AS syy, sum(x::HUGEINT * y) AS sxy
         |   FROM p)
         | SELECT CAST(n AS BIGINT) AS n_endpoints,
         |   CAST(CASE WHEN (n*sxx - sx*sx) = 0 OR (n*syy - sy*sy) = 0 THEN 0
         |     ELSE (CASE WHEN n*sxy - sx*sy >= 0 THEN 1 ELSE -1 END) *
         |       CAST(floor(1000000.0 *
         |         (abs(n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE) *
         |         (abs(n*sxy - sx*sy)::DOUBLE / (n*syy - sy*sy)::DOUBLE))
         |         AS BIGINT) END AS BIGINT)
         |     AS assort_r2_ppm
         | FROM m""".stripMargin),

    // Personalized PageRank from a 3-seed trust set on the GROWING
    // graph: teleport mass returns only to the seeds, so rank = proximity
    // to the vetted list — the seed-expansion primitive for building
    // domain allowlists. Same integer fixed-point unroll as q_pagerank;
    // the oracle's only delta is the CASE-gated teleport/init.
    QueryCase("q_pagerank_seeds", ((s, dir) => {
      val e = scaledDomainEdges(s, dir, dense = false).distinct()
      Graph.personalizedPageRank(e, "src", "dst", seeds = Seq(1L, 2L, 3L),
        iters = 3).presented("id")
    }),
      pprOracleSql(3, Seq(1L, 2L, 3L), ScaledVSql, ScaledU0, ScaledV1)),

    // Edge-weighted PageRank on the growing graph with deterministic
    // weights w = (src+dst) % 5 + 1: mass splits ∝ w/Σw in exact
    // integer/decimal floor arithmetic — link-strength voting. Oracle is
    // the pageRank unroll with the weighted send.
    QueryCase("q_weighted_pagerank", ((s, dir) => {
      val e = scaledDomainEdges(s, dir, dense = false).distinct()
        .withColumn("w", (col("src") + col("dst")) % 5 + 1)
      Graph.weightedPageRank(e, "src", "dst", "w", iters = 3)
        .presented("id")
    }),
      weightedPageRankOracleSql(3, ScaledVSql, ScaledU0, ScaledV1)),

    // Strongly connected components of the DIRECTED growing graph (the
    // coloring / forward-backward algorithm) — the directed complement to
    // q_dedup_clusters' symmetric components: mutual reachability only.
    // Oracle: path-doubled transitive closure (6 doublings cover diameter
    // 64 — far past the fixture's) → mutual pairs → min per node.
    QueryCase("q_scc", ((s, dir) => {
      val e = scaledDomainEdges(s, dir, dense = false).distinct()
      Graph.stronglyConnectedComponents(e, "src", "dst", maxPhases = 100)
        .presented("id")
    }),
      sccOracleSql(6, ScaledVSql, ScaledU0, ScaledV1)),

    // Deterministic random-walk corpus (DeepWalk sentences) on the
    // GROWING graph: md5("start-walk-step-salt") mod degree picks each
    // transition over id-ordered adjacency — zero RNG state, every row a
    // pure function of its coordinates. Oracle unrolls all 4 steps with
    // the identical draw chain.
    QueryCase("q_random_walks", ((s, dir) => {
      val e = scaledDomainEdges(s, dir, dense = false).distinct()
      Graph.randomWalks(e, "src", "dst", walksPerNode = 2, walkLen = 4)
        .presented("start", "walk", "step")
    }),
      randomWalksOracleSql(2, 4, "walk", ScaledVSql, ScaledU0, ScaledV1)),

    // Skip-gram PMI over the walk corpus — the DeepWalk embedding
    // context statistics as a node-affinity table: pairs co-riding walks
    // above frequency expectation. Fully deterministic on top of
    // q_random_walks' draws; oracle chains the walk replay into the
    // windowed self-join + the pmiCollocations ln convention.
    QueryCase("q_walk_pmi", ((s, dir) => {
      val e = scaledDomainEdges(s, dir, dense = false).distinct()
      Graph.walkCooccurrence(e, "src", "dst", walksPerNode = 2,
        walkLen = 4, window = 2, minCount = 2L, topK = 200)
        .presented(col("pmi_ppm").desc, col("a"), col("b"))
    }),
      walkCooccurrenceOracleSql(2, 4, 2, 2L, 200, "walk",
      ScaledVSql, ScaledU0, ScaledV1)),

    // Multi-source BFS from the same 3-seed trust set on the GROWING
    // graph: exact hop distance + nearest-seed attribution (min-id
    // tie-break) — the hard-count complement to q_pagerank_seeds' soft
    // proximity. Oracle unrolls the frontier expansion (4 guarded
    // rounds; rounds past exhaustion are no-ops on both sides).
    QueryCase("q_bfs_distances", ((s, dir) => {
      val e = scaledDomainEdges(s, dir, dense = false).distinct()
      Graph.bfsDistances(e, "src", "dst", seeds = Seq(1L, 2L, 3L),
        maxHops = 4).presented("id")
    }),
      bfsOracleSql(4, Seq(1L, 2L, 3L), ScaledVSql, ScaledU0, ScaledV1)),

    // Modularity audit of the LPA communities on the GROWING dense graph:
    // intra-community edge fraction minus the degree-preserving random
    // expectation, exact sign-factored ppm — the "did label propagation
    // find real blocks" number. Oracle replays the full LPA unroll, then
    // the same per-community degree/intra algebra.
    QueryCase("q_modularity", ((s, dir) => {
      val e = scaledDomainEdges(s, dir, dense = true)
      val labels = Graph.labelPropagation(e, "src", "dst", rounds = 4)
      Graph.modularity(e, "src", "dst", labels, "vertex", "label")
    }),
      modularityOracleSql(4, ScaledVSql, ScaledU0, ScaledV1, ScaledV2)),

    // Deterministic negative sampling (tempered-unigram draws, 5 per
    // doc): vocabulary ladder from one count agg — session-cached, the
    // build-once artifact — draws pure functions of (id, slot, salt),
    // FULLY oracled down to every sampled term.
    QueryCase("q_negative_samples", ((s, dir) =>
      LanguageModel.negativeSamplesFromVocab(t(s, dir, "documents"),
          "doc_id", negVocabFor(s, dir), k = 5)
        .presented("doc_id", "neg_idx")),
      // Negative-sampling replay: same vocab election, sqrt-tempered
      // integer ladder, 52-bit md5 uniforms, and ladder lookup.
      s"""WITH tc AS (SELECT t, count(*) AS c FROM
         |     (SELECT unnest($tokensSql) AS t FROM documents)
         |   GROUP BY t ORDER BY c DESC, t LIMIT 50),
         | wv AS (SELECT t, floor(sqrt(CAST(c AS DOUBLE)) * 65536) AS w,
         |     row_number() OVER (ORDER BY c DESC, t) AS i FROM tc),
         | cv AS (SELECT t, i,
         |     CAST(sum(w) OVER (ORDER BY i) AS BIGINT) AS cum FROM wv),
         | tot AS (SELECT max(cum) AS s FROM cv),
         | dr AS (SELECT doc_id, j AS neg_idx,
         |     CAST(floor((CAST(('0x' || substr(md5(
         |         CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)
         |           || '-graft'), 1, 13)) AS BIGINT) / 4503599627370496.0)
         |       * tot.s) AS BIGINT) AS r
         |   FROM documents, range(1, 6) t(j), tot),
         | pick AS (SELECT doc_id, neg_idx,
         |     (SELECT min(i) FROM cv WHERE cum > dr.r) AS i FROM dr)
         | SELECT doc_id, CAST(neg_idx AS INT) AS neg_idx, cv.t AS term
         | FROM pick JOIN cv USING (i)
         | ORDER BY doc_id, neg_idx""".stripMargin),

    // PMI collocations (phrase mining): integerized round(1e6·ln) of a
    // ratio of exact count products (the dsirScore determinism policy —
    // one ln per surviving bigram, products exact below 2^53), so the
    // oracle replays it bit-for-bit. Ties break on (w1, w2).
    QueryCase("q_pmi_collocations", ((s, dir) =>
      LanguageModel.pmiCollocations(t(s, dir, "documents"), "text",
        minCount = 5, topK = 100)),
      s"""WITH tk AS (SELECT $tokensSql AS t FROM documents),
         | uc AS (SELECT w, count(*) AS c1
         |   FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
         | bg AS (SELECT
         |     unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
         |     unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
         |   FROM tk),
         | bc AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
         | tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM uc)
         | SELECT bc.w1, bc.w2, bc.c2,
         |   CAST(round(CAST(1000000 AS DOUBLE) * ln(
         |     CAST(bc.c2 AS DOUBLE) * tot.n /
         |       (CAST(a.c1 AS DOUBLE) * b.c1))) AS BIGINT) AS pmi_scaled
         | FROM bc JOIN uc a ON bc.w1 = a.w JOIN uc b ON bc.w2 = b.w, tot
         | WHERE bc.c2 >= 5
         | ORDER BY pmi_scaled DESC, bc.w1, bc.w2 LIMIT 100""".stripMargin),

    // Per-document unigram entropy (quality/diversity signal): per-term
    // contributions integerize BEFORE the sum (round(1e6·c·ln c) int64),
    // so the result is order-independent; the final expression is exact
    // integer arithmetic. One fused narrow pass, zero shuffles.
    // Exact sign test + Benjamini-Hochberg FDR across slices (r14): the
    // multiple-testing closer for per-slice paired comparisons, on a
    // BOUNDED eval window (event_id < 250 — absolute, the eval-set
    // contract; per-slice n <= 62 is the exact-tail regime, larger n is
    // mcNemar's chi-square path). Everything integer: Pascal-row tail
    // sums for the two-sided binomial p (ppm), BH step-up by pure
    // cross-multiplication. The oracle replays the SAME Pascal
    // recurrence in HUGEINT via a recursive CTE.
    QueryCase("q_sign_test_fdr", ((s, dir) =>
      Stats.signTestFdr(
        events(s, dir).where(col("event_id") < 250)
          .groupBy(col("event_type"))
          .agg(sum((col("value") > 50).cast("long")).as("pos"),
            sum((col("value") < 50).cast("long")).as("neg")),
        col("event_type"), col("pos"), col("neg"), qPpm = 50000L)
        .presented("p_rank")),
      """WITH RECURSIVE cnt AS (SELECT event_type AS slice,
        |     sum(CASE WHEN value > 50 THEN 1 ELSE 0 END)::BIGINT AS pos,
        |     sum(CASE WHEN value < 50 THEN 1 ELSE 0 END)::BIGINT AS neg
        |   FROM events WHERE event_id < 250 GROUP BY 1),
        | pas(n, row) AS (
        |   SELECT 0, [1::HUGEINT]
        |   UNION ALL
        |   SELECT n + 1, list_transform(range(1, n + 3), j ->
        |     (CASE WHEN j >= 2 THEN row[CAST(j - 1 AS INT)]
        |        ELSE 0::HUGEINT END)
        |     + (CASE WHEN j <= n + 1 THEN row[CAST(j AS INT)]
        |        ELSE 0::HUGEINT END))
        |   FROM pas WHERE n < 62),
        | p AS (SELECT c.slice, c.pos + c.neg AS n, c.pos, c.neg,
        |     CASE WHEN c.pos + c.neg = 0 THEN 1000000
        |       ELSE CAST((least(
        |           2 * list_sum(list_transform(
        |             range(1, CAST(least(c.pos, c.neg) AS INT) + 2),
        |             j -> pa.row[CAST(j AS INT)])),
        |           list_sum(pa.row)) * 1000000)
        |         // list_sum(pa.row) AS BIGINT) END AS p_ppm
        |   FROM cnt c JOIN pas pa ON pa.n = c.pos + c.neg),
        | r AS (SELECT *, row_number() OVER (ORDER BY p_ppm, slice)
        |       AS p_rank,
        |     count(*) OVER () AS m FROM p),
        | cut AS (SELECT coalesce(max(CASE WHEN p_ppm * m <= 50000 * p_rank
        |       THEN p_rank ELSE NULL END), 0) AS cr FROM r)
        | SELECT r.slice, r.n, r.pos, r.neg, r.p_ppm, r.p_rank,
        |   CAST(CASE WHEN r.p_rank <= cut.cr THEN 1 ELSE 0 END AS INT)
        |     AS significant
        | FROM r, cut ORDER BY r.p_rank""".stripMargin),

    // Slice-level conditional entropy rate H(w_n | w_n-1) (r14): the
    // compressibility proxy unigram entropy misses — templated slices
    // read low here at high unigram entropy. Exact integer-ln policy
    // (per-term round-then-sum, the q_doc_entropy convention); bigram
    // and context sums replay in SQL verbatim.
    QueryCase("q_cond_entropy", ((s, dir) =>
      TextAnalysis.conditionalEntropyRate(t(s, dir, "documents"),
          col("lang"), col("text"))
        .presented("slice")),
      s"""WITH tk AS (SELECT lang AS slice, $tokensSql AS t FROM documents
         |     WHERE len($tokensSql) >= 2),
         | bi AS (SELECT slice, t[i] AS w1, t[i + 1] AS w2,
         |     count(*)::BIGINT AS c
         |   FROM (SELECT slice, t, unnest(range(1, len(t))) AS i FROM tk)
         |   GROUP BY slice, w1, w2),
         | s1 AS (SELECT slice, sum(c)::BIGINT AS n_bigrams,
         |     count(*)::BIGINT AS n_bigram_types,
         |     sum(CAST(round(1000000.0 * c * ln(c)) AS BIGINT))::BIGINT
         |       AS s1
         |   FROM bi GROUP BY slice),
         | s0 AS (SELECT slice, count(*)::BIGINT AS n_contexts,
         |     sum(CAST(round(1000000.0 * cx * ln(cx)) AS BIGINT))::BIGINT
         |       AS s0
         |   FROM (SELECT slice, w1, sum(c)::BIGINT AS cx FROM bi
         |     GROUP BY slice, w1)
         |   GROUP BY slice)
         | SELECT s1.slice, s1.n_bigrams, s1.n_bigram_types, s0.n_contexts,
         |   (s0.s0 - s1.s1) // s1.n_bigrams AS cond_entropy_scaled
         | FROM s1 JOIN s0 USING (slice) ORDER BY s1.slice""".stripMargin),

    QueryCase("q_doc_entropy", ((s, dir) =>
      TextAnalysis.docEntropy(t(s, dir, "documents"), "doc_id", "text")
        .presented("doc_id")),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
         | tc AS (SELECT doc_id, term, count(*) AS c
         |   FROM (SELECT doc_id, unnest(t) AS term FROM tk)
         |   GROUP BY doc_id, term),
         | ag AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |     count(*) AS n_distinct,
         |     CAST(sum(CAST(round(1000000.0 * c * ln(c)) AS BIGINT))
         |       AS BIGINT) AS s
         |   FROM tc GROUP BY doc_id)
         | SELECT tk.doc_id,
         |   coalesce(ag.n_tokens, 0) AS n_tokens,
         |   coalesce(ag.n_distinct, 0) AS n_distinct,
         |   CASE WHEN ag.n_tokens IS NULL OR ag.n_tokens = 0 THEN 0
         |        ELSE CAST(round(1000000.0 * ln(ag.n_tokens)) AS BIGINT)
         |          - ag.s // ag.n_tokens END AS entropy_scaled
         | FROM tk LEFT JOIN ag USING (doc_id)
         | ORDER BY tk.doc_id""".stripMargin),

    // Per-document top-3 TF-IDF terms: idf integerized once per TERM
    // (round(1e6·ln(N/df)) — one ln per distinct term, the λ-table
    // discipline), scores exact int64 products from there; ties break
    // term-ascending. No window in the engine plan (bounded per-doc array
    // sort); the oracle may window freely.
    QueryCase("q_tfidf_top_terms", ((s, dir) =>
      TextSearch.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .presented("doc_id", "rank")),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
         | tfc AS (SELECT doc_id, term, count(*) AS tf
         |   FROM (SELECT doc_id, unnest(t) AS term FROM tk)
         |   GROUP BY doc_id, term),
         | nd AS (SELECT count(*) AS n FROM documents),
         | idf AS (SELECT term, CAST(round(CAST(1000000 AS DOUBLE) *
         |       ln(CAST(nd.n AS DOUBLE) / count(*))) AS BIGINT) AS idf_scaled
         |   FROM tfc, nd GROUP BY term, nd.n),
         | sc AS (SELECT doc_id, tfc.term, tf, idf_scaled,
         |     tf * idf_scaled AS score_scaled
         |   FROM tfc JOIN idf ON tfc.term = idf.term),
         | rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |     ORDER BY score_scaled DESC, term) AS rank FROM sc)
         | SELECT doc_id, term, tf, idf_scaled, score_scaled,
         |   CAST(rank AS INT) AS rank
         | FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // χ² term–label association (feature selection for a lexical
    // src0-vs-rest classifier): one vocab-bounded presence aggregation,
    // χ² in DECIMAL(38,0) integer arithmetic whose truncating DIV matches
    // DuckDB's HUGEINT `//` bit-for-bit (numerator is a square, so
    // truncation IS floor); degenerate margins score 0; k-bounded
    // TakeOrdered, ties term-ascending.
    QueryCase("q_chi2_terms", ((s, dir) =>
      TextAnalysis.chiSquareTerms(t(s, dir, "documents"), "doc_id", "text",
        col("source") === "src0", minDf = 5, topK = 50)),
      s"""WITH d AS (SELECT doc_id,
         |     CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y,
         |     $tokensSql AS t FROM documents),
         | tot AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS np FROM d),
         | p AS (SELECT DISTINCT doc_id, y, term FROM (
         |     SELECT doc_id, y, unnest(t) AS term FROM d)),
         | ct AS (SELECT term, count(*) AS df, CAST(sum(y) AS BIGINT) AS a
         |   FROM p GROUP BY term HAVING count(*) >= 5),
         | e AS (SELECT term, df, a, df - a AS b, np - a AS c,
         |     n - np - df + a AS dd, n FROM ct, tot),
         | x AS (SELECT term, df, a,
         |     CASE WHEN (a + c) = 0 OR (b + dd) = 0
         |            OR (a + b) = 0 OR (c + dd) = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST((((abs(a*dd - b*c)::HUGEINT * 1000000)
         |           // ((a + b)::HUGEINT * (c + dd)))
         |         * abs(a*dd - b*c) // ((a + c)::HUGEINT * (b + dd))) * n
         |         AS BIGINT) END AS chi2_ppm
         |   FROM e)
         | SELECT term, CAST(df AS BIGINT) AS df, a AS n_label, chi2_ppm
         | FROM x ORDER BY chi2_ppm DESC, term LIMIT 50""".stripMargin),

    // Embedding snapshot drift per label: snapshot B shifts dim 2 by +5
    // for even labels only — those labels' centroid directions rotate
    // (cos² < 1e6), odd labels stay at exactly 1e6. Exact integer oracle
    // (floor-quantized sums, the two-stage sign-factored divide).
    QueryCase("q_centroid_drift", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val moved = emb.withColumn("embedding",
        expr("""transform(embedding, (x, i) -> CASE WHEN i = 1
          AND label % 2 = 0 THEN CAST(x + 5.0 AS FLOAT) ELSE x END)"""))
      Similarity.centroidDrift(emb, moved, "label", "embedding")
        .presented("label")
    }),
      """WITH mx AS (SELECT max(len(embedding)) AS d FROM embeddings),
        | ix AS (SELECT unnest(range(1, d + 1)) AS i FROM mx),
        | bb AS (SELECT label, list_transform(embedding, (x, i) ->
        |     CASE WHEN i = 2 AND label % 2 = 0
        |       THEN CAST(x + 5.0 AS FLOAT) ELSE x END) AS emb
        |   FROM embeddings),
        | sa AS (SELECT label::BIGINT AS label, i,
        |     sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 100) AS BIGINT)) AS s,
        |     count(*)::BIGINT AS n
        |   FROM embeddings, ix WHERE i <= len(embedding) GROUP BY 1, 2),
        | sb AS (SELECT label::BIGINT AS label, i,
        |     sum(CAST(floor(CAST(emb[i] AS DOUBLE) * 100) AS BIGINT)) AS s,
        |     count(*)::BIGINT AS n
        |   FROM bb, ix WHERE i <= len(emb) GROUP BY 1, 2),
        | j AS (SELECT sa.label, max(sa.n) AS n_a, max(sb.n) AS n_b,
        |     sum(sa.s::HUGEINT * sb.s) AS dot,
        |     sum(sa.s::HUGEINT * sa.s) AS aa,
        |     sum(sb.s::HUGEINT * sb.s) AS bsq
        |   FROM sa JOIN sb ON sa.label = sb.label AND sa.i = sb.i
        |   GROUP BY sa.label)
        | SELECT label, n_a, n_b,
        |   CAST(CASE WHEN aa = 0 OR bsq = 0 THEN 0 ELSE
        |     (CASE WHEN dot >= 0 THEN 1 ELSE -1 END) *
        |     (((abs(dot) * 1000000) // aa) * abs(dot) // bsq)
        |     END AS BIGINT) AS cos2_ppm
        | FROM j ORDER BY label""".stripMargin),

    // Corpus-composition independence: lang × source contingency χ² in
    // the sum-of-floors integer convention (dense margin cross, so empty
    // cells contribute exactly).
    QueryCase("q_crosstab_chi2", ((s, dir) =>
      Stats.crosstabChi2(t(s, dir, "documents"), col("lang"), col("source"))),
      """WITH cells AS (SELECT lang::VARCHAR AS a, source::VARCHAR AS b,
        |     count(*)::BIGINT AS o FROM documents
        |   WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        | rm AS (SELECT a, sum(o) AS r FROM cells GROUP BY a),
        | cm AS (SELECT b, sum(o) AS c FROM cells GROUP BY b),
        | t AS (SELECT sum(o)::HUGEINT AS n,
        |     count(DISTINCT a)::BIGINT AS nr,
        |     count(DISTINCT b)::BIGINT AS nc FROM cells),
        | dense AS (SELECT rm.r::HUGEINT AS r, cm.c::HUGEINT AS c,
        |     coalesce(cells.o, 0)::HUGEINT AS o
        |   FROM rm CROSS JOIN cm
        |   LEFT JOIN cells ON cells.a = rm.a AND cells.b = cm.b),
        | k AS (SELECT CASE WHEN t.n * r = 0 OR c = 0 THEN 0
        |     ELSE ((abs(o * t.n - r * c) * 1000000) // (t.n * r))
        |       * abs(o * t.n - r * c) // c END AS contrib
        |   FROM dense, t)
        | SELECT CAST(t.n AS BIGINT) AS n, t.nr AS n_rows, t.nc AS n_cols,
        |   (t.nr - 1) * (t.nc - 1) AS dof,
        |   CAST((SELECT sum(contrib) FROM k) AS BIGINT) AS chi2_scaled
        | FROM t""".stripMargin),

    // Cramér's V on the same lang×source table: the [0,1] contingency
    // EFFECT SIZE next to q_crosstab_chi2's N-growing significance
    // number — one integer divide over the exact chi2_scaled.
    QueryCase("q_cramers_v", ((s, dir) =>
      Stats.cramersV(t(s, dir, "documents"), col("lang"), col("source"))),
      """WITH cells AS (SELECT lang::VARCHAR AS a, source::VARCHAR AS b,
        |     count(*)::BIGINT AS o FROM documents
        |   WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        | rm AS (SELECT a, sum(o) AS r FROM cells GROUP BY a),
        | cm AS (SELECT b, sum(o) AS c FROM cells GROUP BY b),
        | t AS (SELECT sum(o)::HUGEINT AS n,
        |     count(DISTINCT a)::BIGINT AS nr,
        |     count(DISTINCT b)::BIGINT AS nc FROM cells),
        | dense AS (SELECT rm.r::HUGEINT AS r, cm.c::HUGEINT AS c,
        |     coalesce(cells.o, 0)::HUGEINT AS o
        |   FROM rm CROSS JOIN cm
        |   LEFT JOIN cells ON cells.a = rm.a AND cells.b = cm.b),
        | k AS (SELECT CASE WHEN t.n * r = 0 OR c = 0 THEN 0
        |     ELSE ((abs(o * t.n - r * c) * 1000000) // (t.n * r))
        |       * abs(o * t.n - r * c) // c END AS contrib
        |   FROM dense, t)
        | SELECT CAST(t.n AS BIGINT) AS n, t.nr AS n_rows, t.nc AS n_cols,
        |   CAST(CASE WHEN t.n = 0 OR least(t.nr - 1, t.nc - 1) <= 0 THEN 0
        |     ELSE (SELECT sum(contrib) FROM k)
        |       // (t.n * least(t.nr - 1, t.nc - 1)) END AS BIGINT)
        |     AS v2_ppm
        | FROM t""".stripMargin),

    // Per-event-type Pearson association between hour-of-day and the
    // floored value — signed r² in ppm from exact DECIMAL(38,0) moments
    // (two-stage sign-factored divide, replayable bit-for-bit).
    QueryCase("q_pearson_corr", ((s, dir) =>
      Stats.pearsonCorr(events(s, dir), "event_type",
        expr("(ts_ms DIV 3600000) % 24"), floor(col("value")))
        .presented("key")),
      """WITH e AS (SELECT event_type AS key,
        |     (epoch_ms(ts) // 3600000) % 24 AS x,
        |     CAST(floor(value) AS BIGINT) AS y FROM events),
        | m AS (SELECT key, count(*)::HUGEINT AS n,
        |     sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
        |     sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy,
        |     sum(x::HUGEINT * y) AS sxy
        |   FROM e GROUP BY key)
        | SELECT key, CAST(n AS BIGINT) AS n,
        |   CAST(CASE WHEN (n*sxx - sx*sx) = 0 OR (n*syy - sy*sy) = 0 THEN 0
        |     ELSE (CASE WHEN n*sxy - sx*sy >= 0 THEN 1 ELSE -1 END) *
        |       CAST(floor(1000000.0 *
        |         (abs(n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE) *
        |         (abs(n*sxy - sx*sy)::DOUBLE / (n*syy - sy*sy)::DOUBLE))
        |         AS BIGINT) END AS BIGINT)
        |     AS r2_ppm
        | FROM m ORDER BY key""".stripMargin),

    // Spearman rank correlation per event type over the same axes as
    // q_pearson_corr — monotone association where Pearson sees only
    // linear; ×2 midranks from per-key value histograms feed the same
    // DECIMAL moment algebra. Oracle replays ranks + the pearson recipe.
    QueryCase("q_spearman_corr", ((s, dir) =>
      Stats.spearmanCorr(events(s, dir), "event_type",
        expr("(ts_ms DIV 3600000) % 24"), floor(col("value")))
        .presented("key")),
      """WITH e AS (SELECT event_type AS key,
        |     (epoch_ms(ts) // 3600000) % 24 AS x,
        |     CAST(floor(value) AS BIGINT) AS y FROM events),
        | hx AS (SELECT key, x, count(*)::BIGINT AS c FROM e GROUP BY 1, 2),
        | rx AS (SELECT key, x, 2 * coalesce(sum(c) OVER (PARTITION BY key
        |       ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |       0) + c + 1 AS r FROM hx),
        | hy AS (SELECT key, y, count(*)::BIGINT AS c FROM e GROUP BY 1, 2),
        | ry AS (SELECT key, y, 2 * coalesce(sum(c) OVER (PARTITION BY key
        |       ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |       0) + c + 1 AS r FROM hy),
        | p AS (SELECT e.key, rx.r::HUGEINT AS x, ry.r::HUGEINT AS y
        |   FROM e JOIN rx ON rx.key = e.key AND rx.x = e.x
        |     JOIN ry ON ry.key = e.key AND ry.y = e.y),
        | m AS (SELECT key, count(*)::HUGEINT AS n,
        |     sum(x) AS sx, sum(y) AS sy,
        |     sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        |   FROM p GROUP BY key)
        | SELECT key, CAST(n AS BIGINT) AS n,
        |   CAST(CASE WHEN (n*sxx - sx*sx) = 0 OR (n*syy - sy*sy) = 0 THEN 0
        |     ELSE (CASE WHEN n*sxy - sx*sy >= 0 THEN 1 ELSE -1 END) *
        |       CAST(floor(1000000.0 *
        |         (abs(n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE) *
        |         (abs(n*sxy - sx*sy)::DOUBLE / (n*syy - sy*sy)::DOUBLE))
        |         AS BIGINT) END AS BIGINT)
        |     AS rho2_ppm
        | FROM m ORDER BY key""".stripMargin),

    // McNemar paired-verdict test: does the Gopher filter pass a
    // DIFFERENT set of docs than a plain length rule, beyond symmetric
    // churn? Discordant counts + exact integer chi2_ppm + ppm-literal
    // 95% verdict — no floating point on either engine.
    QueryCase("q_mcnemar", ((s, dir) => {
      val d = t(s, dir, "documents")
      Stats.mcnemarTest(
        d.select((col("n_chars") >= 200).as("a"),
          ((col("n_chars") % 97) >= 30).as("b")),
        col("a"), col("b"))
    }),
      """WITH f AS (SELECT (n_chars >= 200) AS a, ((n_chars % 97) >= 30) AS b
        |     FROM documents),
        | c AS (SELECT count(*)::BIGINT AS n,
        |     sum(CASE WHEN a AND b THEN 1 ELSE 0 END)::BIGINT AS n_both,
        |     sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)::BIGINT
        |       AS n_a_only,
        |     sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)::BIGINT
        |       AS n_b_only,
        |     sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)::BIGINT
        |       AS n_neither
        |   FROM f)
        | SELECT n, n_both, n_a_only, n_b_only, n_neither,
        |   CAST(CASE WHEN n_a_only + n_b_only = 0 THEN 0
        |     ELSE ((n_a_only - n_b_only)::HUGEINT * (n_a_only - n_b_only)
        |       * 1000000) // (n_a_only + n_b_only) END AS BIGINT)
        |     AS chi2_ppm,
        |   CAST(CASE WHEN n_a_only + n_b_only = 0 THEN 0
        |     WHEN (n_a_only - n_b_only)::HUGEINT * (n_a_only - n_b_only)
        |       * 1000000 > 3841459::HUGEINT * (n_a_only + n_b_only)
        |     THEN 1 ELSE 0 END AS INT) AS significant_95
        | FROM c""".stripMargin),

    // Per-event-type daily OLS volume trend: slope in ppm from the
    // DECIMAL(38,0) rational with the sign factored out of the truncating
    // divide — exact cross-engine; single-bucket keys report null slope.
    QueryCase("q_trend_slopes", ((s, dir) =>
      Stats.trendSlopes(events(s, dir), "event_type",
          expr("ts_ms DIV 86400000"))
        .presented("event_type")),
      """WITH c AS (SELECT event_type, epoch_ms(ts) // 86400000 AS b,
        |     count(*) AS y FROM events GROUP BY 1, 2),
        | o AS (SELECT min(b) AS b0 FROM c),
        | p AS (SELECT event_type, (b - b0)::HUGEINT AS x, y::HUGEINT AS y
        |   FROM c, o),
        | s AS (SELECT event_type, count(*)::HUGEINT AS n, sum(x) AS sx,
        |     sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx
        |   FROM p GROUP BY 1),
        | e AS (SELECT event_type, n, sy,
        |     n*sxy - sx*sy AS num, n*sxx - sx*sx AS den FROM s)
        | SELECT event_type, CAST(n AS BIGINT) AS n_buckets,
        |   CAST(sy AS BIGINT) AS total,
        |   CASE WHEN den = 0 THEN NULL
        |     ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
        |       * ((abs(num) * 1000000) // den) AS BIGINT) END AS slope_ppm
        | FROM e ORDER BY event_type""".stripMargin),

    // Lag-1/lag-7 autocorrelation of per-type daily volumes: does the
    // series REPEAT (weekly sampling leaves a lag-7 fingerprint) —
    // pearsonCorr verbatim on the calendar-bounded lag self-join.
    QueryCase("q_autocorrelation", ((s, dir) =>
      Stats.autocorrelation(events(s, dir), "event_type",
          expr("ts_ms DIV 86400000"), lags = Seq(1, 7))
        .withColumnRenamed("key", "event_type")),
      """WITH c AS (SELECT event_type AS key, epoch_ms(ts) // 86400000 AS b,
        |     count(*)::BIGINT AS y FROM events GROUP BY 1, 2),
        | p AS (SELECT a.key, 1 AS lag, a.y AS x, b.y AS y FROM c a
        |     JOIN c b ON a.key = b.key AND b.b = a.b + 1
        |   UNION ALL SELECT a.key, 7, a.y, b.y FROM c a
        |     JOIN c b ON a.key = b.key AND b.b = a.b + 7),
        | m AS (SELECT key, lag, count(*)::HUGEINT AS n,
        |     sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
        |     sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy,
        |     sum(x::HUGEINT * y) AS sxy
        |   FROM p GROUP BY 1, 2)
        | SELECT key AS event_type, lag, CAST(n AS BIGINT) AS n,
        |   CAST(CASE WHEN (n*sxx - sx*sx) = 0 OR (n*syy - sy*sy) = 0
        |     THEN 0
        |     ELSE (CASE WHEN n*sxy - sx*sy >= 0 THEN 1 ELSE -1 END) *
        |       CAST(floor(1000000.0 *
        |         (abs(n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE) *
        |         (abs(n*sxy - sx*sy)::DOUBLE / (n*syy - sy*sy)::DOUBLE))
        |         AS BIGINT) END AS BIGINT)
        |     AS r2_ppm
        | FROM m ORDER BY key, lag""".stripMargin),

    // Cochran–Mantel–Haenszel across event-type strata (variant =
    // user_id parity, converted = a value/user hash bit): does the
    // treatment shift conversion WITHIN strata — the Simpson's-paradox
    // guard over abTest's pooled z. Per-stratum 10⁶-integerized E/V/ad/bc
    // terms (bounded nested floors), integer χ² + MH odds ratio.
    QueryCase("q_cmh_test", ((s, dir) =>
      Stats.cmhTest(events(s, dir), col("event_type"),
        pmod(col("user_id"), lit(2L)),
        pmod(floor(col("value")).cast("long") + col("user_id"), lit(3L))
          === 0)),
      """WITH d AS (SELECT event_type AS s,
        |     ((user_id % 2) + 2) % 2 AS v,
        |     CASE WHEN ((CAST(floor(value) AS BIGINT) + user_id) % 3 + 3)
        |       % 3 = 0 THEN 1 ELSE 0 END AS c
        |   FROM events),
        | st AS (SELECT s,
        |     sum(CASE WHEN v = 1 AND c = 1 THEN 1 ELSE 0 END)::BIGINT AS a,
        |     sum(CASE WHEN v = 1 AND c = 0 THEN 1 ELSE 0 END)::BIGINT AS b,
        |     sum(CASE WHEN v = 0 AND c = 1 THEN 1 ELSE 0 END)::BIGINT AS c,
        |     sum(CASE WHEN v = 0 AND c = 0 THEN 1 ELSE 0 END)::BIGINT AS d
        |   FROM d GROUP BY s),
        | t AS (SELECT a + b + c + d AS n, a, b, c, d FROM st
        |   WHERE a + b + c + d >= 2),
        | tm AS (SELECT n, a,
        |     ((a + b)::HUGEINT * (a + c) * 1000000) // n AS e6,
        |     (((((a + b)::HUGEINT * (c + d) * 1000000) // n) * (a + c))
        |       // n) * (b + d) // (n - 1) AS v6,
        |     (a::HUGEINT * d * 1000000) // n AS ad6,
        |     (b::HUGEINT * c * 1000000) // n AS bc6
        |   FROM t),
        | g AS (SELECT count(*)::BIGINT AS n_strata,
        |     coalesce(sum(n), 0)::BIGINT AS n,
        |     coalesce(sum(a::HUGEINT * 1000000), 0) AS sa6,
        |     coalesce(sum(e6), 0) AS se6, coalesce(sum(v6), 0) AS sv6,
        |     coalesce(sum(ad6), 0) AS sad, coalesce(sum(bc6), 0) AS sbc
        |   FROM tm),
        | z AS (SELECT n_strata, n, sad, sbc,
        |     CASE WHEN sv6 <= 0 THEN 0
        |       WHEN abs(sa6 - se6) <= 500000 THEN 0
        |       ELSE ((abs(sa6 - se6) - 500000)
        |         * (abs(sa6 - se6) - 500000)) // sv6 END AS chi2
        |   FROM g)
        | SELECT n_strata, n, CAST(chi2 AS BIGINT) AS chi2_ppm,
        |   CAST(chi2 > 3841459 AS INT) AS significant_95,
        |   CAST(CASE WHEN sbc = 0 THEN NULL
        |     ELSE (sad * 1000000) // sbc END AS BIGINT) AS or_mh_ppm
        | FROM z""".stripMargin),

    // Robust per-type trend over the same daily buckets as
    // q_trend_slopes: Mann–Kendall S with tie-corrected variance +
    // continuity-corrected integer z², and the Theil–Sen median slope
    // (29% breakdown vs OLS's 0) — pair table bounded by the CALENDAR
    // squared per key, never by corpus rows.
    QueryCase("q_robust_trend", ((s, dir) =>
      Stats.robustTrend(events(s, dir), "event_type",
          expr("ts_ms DIV 86400000"))
        .withColumnRenamed("key", "event_type")),
      """WITH c AS (SELECT event_type AS key, epoch_ms(ts) // 86400000 AS b,
        |     count(*)::BIGINT AS y FROM events GROUP BY 1, 2),
        | p AS (SELECT a.key,
        |     CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
        |       ELSE 0 END AS sgn,
        |     (CASE WHEN b.y >= a.y THEN 1 ELSE -1 END)::HUGEINT *
        |       ((abs(b.y - a.y)::HUGEINT * 1000000) // (b.b - a.b))
        |       AS slope
        |   FROM c a JOIN c b ON a.key = b.key AND b.b > a.b),
        | sa AS (SELECT key, sum(sgn)::BIGINT AS s, count(*)::BIGINT AS np
        |   FROM p GROUP BY key),
        | sh AS (SELECT key, slope, count(*)::BIGINT AS cc
        |   FROM p GROUP BY 1, 2),
        | cum AS (SELECT key, slope,
        |     sum(cc) OVER (PARTITION BY key ORDER BY slope
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
        |     sum(cc) OVER (PARTITION BY key ORDER BY slope
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cc
        |       AS lo
        |   FROM sh),
        | med AS (SELECT cum.key, slope AS ts FROM cum JOIN sa USING (key)
        |   WHERE lo < (np + 1) // 2 AND (np + 1) // 2 <= hi),
        | tt AS (SELECT key, sum(t::HUGEINT * (t - 1) * (2 * t + 5)) AS tt
        |   FROM (SELECT key, y, count(*)::BIGINT AS t FROM c GROUP BY 1, 2)
        |   GROUP BY key),
        | nb AS (SELECT key, count(*)::BIGINT AS n FROM c GROUP BY key),
        | z AS (SELECT nb.key, nb.n AS n_buckets,
        |     coalesce(sa.s, 0) AS s_stat,
        |     CASE WHEN nb.n < 2 OR sa.s IS NULL OR sa.s = 0 THEN 0
        |       WHEN nb.n::HUGEINT * (nb.n - 1) * (2 * nb.n + 5) - tt.tt
        |         <= 0 THEN 0
        |       ELSE ((abs(sa.s) - 1)::HUGEINT * (abs(sa.s) - 1)
        |           * 18 * 1000000)
        |         // (nb.n::HUGEINT * (nb.n - 1) * (2 * nb.n + 5) - tt.tt)
        |       END AS z2,
        |     med.ts AS tsen
        |   FROM nb LEFT JOIN sa USING (key) JOIN tt USING (key)
        |   LEFT JOIN med ON med.key = nb.key)
        | SELECT key AS event_type, n_buckets,
        |   CAST(s_stat AS BIGINT) AS s_stat,
        |   CAST(z2 AS BIGINT) AS z2_ppm,
        |   CAST(tsen AS BIGINT) AS theil_sen_ppm,
        |   CAST(z2 > 3841459 AS INT) AS significant_95
        | FROM z ORDER BY key""".stripMargin),

    // Kruskal–Wallis across the 5 languages over a lang-shifted n_chars
    // (k-sample MWU: "is ANY slice shifted"): ×2 midranks over the
    // combined value histogram, bounded nested-floor group terms, one
    // IEEE tie-correction multiply, χ²_{k−1} verdict literal.
    QueryCase("q_kruskal_wallis", ((s, dir) =>
      Stats.kruskalWallis(
        t(s, dir, "documents").select(
          (col("n_chars") + ascii(substring(col("lang"), 1, 1)) % 7)
            .as("v"), col("lang").as("g")),
        col("v"), col("g"), knownBinsAtMostMax = true)),
      """WITH d AS (SELECT n_chars + ascii(substr(lang, 1, 1)) % 7 AS v,
        |     lang AS g FROM documents),
        | h AS (SELECT v, g, count(*)::BIGINT AS c FROM d GROUP BY 1, 2),
        | hv AS (SELECT v, sum(c)::BIGINT AS cv FROM h GROUP BY v),
        | rk AS (SELECT v, 2 * coalesce(sum(cv) OVER (ORDER BY v
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |     + cv + 1 AS r2 FROM hv),
        | grp AS (SELECT g, sum(c)::HUGEINT AS ng,
        |     sum(c::HUGEINT * r2) AS r2s
        |   FROM h JOIN rk USING (v) GROUP BY g),
        | tot AS (SELECT sum(cv)::HUGEINT AS n,
        |     sum(cv::HUGEINT * cv * cv - cv) AS t FROM hv),
        | tm AS (SELECT ng, n, t,
        |     ((r2s * 1000000) // (n + 1)) * r2s // (4 * ng * n) AS bg
        |   FROM grp, tot),
        | ag AS (SELECT any_value(n) AS n, any_value(t) AS t,
        |     count(*)::BIGINT AS k, sum(bg) AS sb FROM tm),
        | hh AS (SELECT CAST(n AS BIGINT) AS nn, k AS n_groups,
        |     CASE WHEN n < 2 OR n * n * n - n - t <= 0 THEN 0
        |       ELSE CAST(FLOOR(
        |         CAST(12 * sb - 3 * (n + 1) * 1000000 AS DOUBLE) *
        |         (CAST(n * n * n - n AS DOUBLE) /
        |          CAST(n * n * n - n - t AS DOUBLE))) AS BIGINT)
        |       END AS h0
        |   FROM ag)
        | SELECT nn AS n, n_groups,
        |   CAST(greatest(h0, 0) AS BIGINT) AS h_ppm,
        |   CAST(CASE WHEN n_groups BETWEEN 2 AND 11 THEN
        |     CAST(greatest(h0, 0) > CASE n_groups
        |       WHEN 2 THEN 3841459 WHEN 3 THEN 5991465
        |       WHEN 4 THEN 7814728 WHEN 5 THEN 9487729
        |       WHEN 6 THEN 11070498 WHEN 7 THEN 12591587
        |       WHEN 8 THEN 14067140 WHEN 9 THEN 15507313
        |       WHEN 10 THEN 16918978 WHEN 11 THEN 18307038 END AS INT)
        |     ELSE NULL END AS INT) AS significant_95
        | FROM hh""".stripMargin),

    // Rank-based scale-shift test (rank-transform Brown–Forsythe) across
    // languages over a lang-width planted jitter (widths 7/14/21 by
    // lang): KW on |v − median_g| — catches the variance blow-up the
    // location tests can't see. Everything histogram-bounded.
    QueryCase("q_rank_levene", ((s, dir) =>
      Stats.rankLeveneTest(
        t(s, dir, "documents").select(
          (col("n_chars") + pmod(col("doc_id"),
            lit(7L) * (lit(1L) +
              (ascii(substring(col("lang"), 1, 1)) % 3).cast("long"))))
            .as("v"),
          col("lang").as("g")),
        col("v"), col("g"), knownBinsAtMostMax = true)),
      """WITH d AS (SELECT n_chars + ((doc_id % w) + w) % w AS v, lang AS g
        |   FROM (SELECT doc_id, n_chars, lang,
        |       7 * (1 + ascii(substr(lang, 1, 1)) % 3) AS w
        |     FROM documents)),
        | h0 AS (SELECT v, g, count(*)::BIGINT AS c FROM d GROUP BY 1, 2),
        | cum AS (SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
        |   FROM h0),
        | ngt AS (SELECT g, sum(c)::BIGINT AS ng FROM h0 GROUP BY g),
        | med AS (SELECT cum.g, v AS m FROM cum JOIN ngt USING (g)
        |   WHERE hi - c < (ng + 1) // 2 AND (ng + 1) // 2 <= hi),
        | h AS (SELECT abs(h0.v - med.m) AS v, h0.g, sum(c)::BIGINT AS c
        |   FROM h0 JOIN med ON med.g = h0.g GROUP BY 1, 2),
        | hv AS (SELECT v, sum(c)::BIGINT AS cv FROM h GROUP BY v),
        | rk AS (SELECT v, 2 * coalesce(sum(cv) OVER (ORDER BY v
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |     + cv + 1 AS r2 FROM hv),
        | grp AS (SELECT g, sum(c)::HUGEINT AS ng,
        |     sum(c::HUGEINT * r2) AS r2s
        |   FROM h JOIN rk USING (v) GROUP BY g),
        | tot AS (SELECT sum(cv)::HUGEINT AS n,
        |     sum(cv::HUGEINT * cv * cv - cv) AS t FROM hv),
        | tm AS (SELECT ng, n, t,
        |     ((r2s * 1000000) // (n + 1)) * r2s // (4 * ng * n) AS bg
        |   FROM grp, tot),
        | ag AS (SELECT any_value(n) AS n, any_value(t) AS t,
        |     count(*)::BIGINT AS k, sum(bg) AS sb FROM tm),
        | hh AS (SELECT CAST(n AS BIGINT) AS nn, k AS n_groups,
        |     CASE WHEN n < 2 OR n * n * n - n - t <= 0 THEN 0
        |       ELSE CAST(FLOOR(
        |         CAST(12 * sb - 3 * (n + 1) * 1000000 AS DOUBLE) *
        |         (CAST(n * n * n - n AS DOUBLE) /
        |          CAST(n * n * n - n - t AS DOUBLE))) AS BIGINT)
        |       END AS h0
        |   FROM ag)
        | SELECT nn AS n, n_groups,
        |   CAST(greatest(h0, 0) AS BIGINT) AS h_ppm,
        |   CAST(CASE WHEN n_groups BETWEEN 2 AND 11 THEN
        |     CAST(greatest(h0, 0) > CASE n_groups
        |       WHEN 2 THEN 3841459 WHEN 3 THEN 5991465
        |       WHEN 4 THEN 7814728 WHEN 5 THEN 9487729
        |       WHEN 6 THEN 11070498 WHEN 7 THEN 12591587
        |       WHEN 8 THEN 14067140 WHEN 9 THEN 15507313
        |       WHEN 10 THEN 16918978 WHEN 11 THEN 18307038 END AS INT)
        |     ELSE NULL END AS INT) AS significant_95
        | FROM hh""".stripMargin),

    // Pettitt rank change-point per event type over daily volumes: the
    // difference-array collapse of U_t (pair mass → two per-bucket
    // reductions + one window), argmax |U| with min-bucket tie-break,
    // integer ln(40) significance literal.
    QueryCase("q_changepoint", ((s, dir) =>
      Stats.pettittChangePoint(events(s, dir), "event_type",
          expr("ts_ms DIV 86400000"))
        .withColumnRenamed("key", "event_type")),
      """WITH c AS (SELECT event_type AS key, epoch_ms(ts) // 86400000 AS b,
        |     count(*)::BIGINT AS y FROM events GROUP BY 1, 2),
        | p AS (SELECT a.key, a.b AS b1, b.b AS b2,
        |     CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
        |       ELSE 0 END AS sgn
        |   FROM c a JOIN c b ON a.key = b.key AND b.b > a.b),
        | o AS (SELECT key, b1 AS b, sum(sgn)::BIGINT AS d
        |   FROM p GROUP BY 1, 2),
        | cl AS (SELECT key, b2 AS b, -sum(sgn)::BIGINT AS d
        |   FROM p GROUP BY 1, 2),
        | dd AS (SELECT key, b, sum(d)::BIGINT AS d FROM (
        |     SELECT * FROM o UNION ALL SELECT * FROM cl) GROUP BY 1, 2),
        | u AS (SELECT key, b, sum(d) OVER (PARTITION BY key ORDER BY b
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u
        |   FROM dd),
        | mx AS (SELECT key, max(abs(u))::BIGINT AS k FROM u GROUP BY key),
        | pk AS (SELECT u.key, min(b) AS cb, any_value(k) AS k FROM u
        |   JOIN mx ON mx.key = u.key AND abs(u.u) = mx.k GROUP BY u.key),
        | nb AS (SELECT key, count(*)::BIGINT AS n FROM c GROUP BY key)
        | SELECT nb.key AS event_type, nb.n AS n_buckets,
        |   coalesce(pk.k, 0) AS k_stat,
        |   CASE WHEN nb.n < 2 THEN NULL ELSE pk.cb END AS change_bucket,
        |   CAST(6 * coalesce(pk.k, 0)::HUGEINT * coalesce(pk.k, 0)
        |       * 1000000 >
        |     3688879 * (nb.n::HUGEINT * nb.n * nb.n
        |       + nb.n::HUGEINT * nb.n) AS INT) AS sig_05
        | FROM nb LEFT JOIN pk ON pk.key = nb.key ORDER BY nb.key""".stripMargin),

    // Concentration profile of corpus mass across sources: exact Gini,
    // HHI, and top-1 share over the per-source counts — the "do a
    // handful of domains own the corpus" audit read before per-domain
    // caps are sized. Rank window over the source-bounded count table.
    QueryCase("q_concentration", ((s, dir) =>
      Stats.concentrationProfile(t(s, dir, "documents"), "source")),
      """WITH c AS (SELECT source AS key, count(*)::BIGINT AS c
        |   FROM documents GROUP BY 1),
        | r AS (SELECT c, row_number() OVER (ORDER BY c, key) AS i FROM c),
        | g AS (SELECT count(*)::HUGEINT AS n,
        |     coalesce(sum(c), 0)::HUGEINT AS tot,
        |     coalesce(max(c), 0)::HUGEINT AS mx,
        |     coalesce(sum(c::HUGEINT * c), 0) AS ss,
        |     coalesce(sum(i::HUGEINT * c), 0) AS ic FROM r)
        | SELECT CAST(n AS BIGINT) AS n_keys, CAST(tot AS BIGINT) AS total,
        |   CAST(CASE WHEN tot = 0 THEN 0 ELSE
        |     (CASE WHEN 2 * ic >= (n + 1) * tot THEN 1 ELSE -1 END) *
        |       ((abs(2 * ic - (n + 1) * tot) * 1000000) // (n * tot))
        |     END AS BIGINT) AS gini_ppm,
        |   CAST(CASE WHEN tot = 0 THEN 0
        |     ELSE (ss * 1000000) // (tot * tot) END AS BIGINT) AS hhi_ppm,
        |   CAST(CASE WHEN tot = 0 THEN 0
        |     ELSE (mx * 1000000) // tot END AS BIGINT) AS top_share_ppm
        | FROM g""".stripMargin),

    // Pareto frontier of (token_count, type-token-ratio ppm): the docs
    // optimally trading length against lexical diversity — the skyline a
    // budgeted curation selector sweeps. Window runs over distinct token
    // counts only; membership is a broadcast frontier join.
    QueryCase("q_pareto_front", ((s, dir) => {
      val pts = t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
          size(array_distinct(TextAnalysis.tokens(col("text"))))
            .cast("long").as("__u"))
        .where(col("n_tokens") > 0)
        .select(col("doc_id"), col("n_tokens"),
          expr("(__u * 1000000) DIV n_tokens").as("ttr_ppm"))
      Stats.paretoFront(pts, "doc_id", "n_tokens", "ttr_ppm")
        .presented("n_tokens", "doc_id")
    }),
      s"""WITH d AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS x,
         |     CAST((len(list_distinct(t)) * 1000000) // len(t) AS BIGINT) AS y
         |   FROM (SELECT doc_id, $tokensSql AS t FROM documents)
         |   WHERE len(t) > 0)
         | SELECT doc_id, x AS n_tokens, y AS ttr_ppm FROM d p
         | WHERE NOT EXISTS (SELECT 1 FROM d q
         |   WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
         | ORDER BY n_tokens, doc_id""".stripMargin),

    // Luhn-gated card detection: a deterministic 16-digit candidate per
    // doc (valid checksum on even ids, broken on odd), scanned by the
    // tokenize+regex+Luhn pipeline — the validated-PII upgrade over bare
    // regex redaction. All string/int algebra, bit-replayable.
    QueryCase("q_luhn_scan", ((s, dir) => {
      val s15 = concat(lit("4"), lpad(
        ((col("doc_id") % 10000000L) * 987654321L % 100000000000000L)
          .cast("string"), 14, "0"))
      val paySum = aggregate(transform(split(reverse(s15), ""), (ch, i) => {
        val dd = ascii(ch) - lit(48)
        when(i % 2 === 0,
          when(dd * 2 > 9, dd * 2 - 9).otherwise(dd * 2)).otherwise(dd)
      }), lit(0), (a, x) => a + x)
      val check = pmod(lit(10) - paySum % 10, lit(10))
      val digit = when(col("doc_id") % 2 === 0, check)
        .otherwise(pmod(check + 1, lit(10)))
      val scan = TextAnalysis.cardScan(
        concat(col("text"), lit(" "), s15, digit.cast("string")))
      t(s, dir, "documents").select(scan.as("s"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("s.n_candidates")).as("n_candidates"),
          sum(col("s.n_valid")).as("n_valid"))
    }),
      {
      val luhn = (v: String) =>
        s"""list_sum(list_transform(range(1, len($v) + 1), i ->
           |      CASE WHEN (i - 1) % 2 = 0 THEN unicode(reverse($v)[i]) - 48
           |        ELSE CASE WHEN (unicode(reverse($v)[i]) - 48) * 2 > 9
           |          THEN (unicode(reverse($v)[i]) - 48) * 2 - 9
           |          ELSE (unicode(reverse($v)[i]) - 48) * 2 END END))"""
          .stripMargin
      s"""WITH d AS (SELECT doc_id, text,
         |     '4' || lpad(CAST((doc_id % 10000000) * 987654321
         |       % 100000000000000 AS VARCHAR), 14, '0') AS s15
         |   FROM documents),
         | ps AS (SELECT doc_id, text, s15,
         |     list_sum(list_transform(range(1, 16), i ->
         |       CASE WHEN (i - 1) % 2 = 0 THEN
         |         CASE WHEN (unicode(reverse(s15)[i]) - 48) * 2 > 9
         |           THEN (unicode(reverse(s15)[i]) - 48) * 2 - 9
         |           ELSE (unicode(reverse(s15)[i]) - 48) * 2 END
         |       ELSE unicode(reverse(s15)[i]) - 48 END)) AS pay
         |   FROM d),
         | wd AS (SELECT doc_id, text || ' ' || s15 || CAST(
         |     CASE WHEN doc_id % 2 = 0 THEN (10 - pay % 10) % 10
         |       ELSE ((10 - pay % 10) % 10 + 1) % 10 END AS VARCHAR) AS text
         |   FROM ps),
         | tok AS (SELECT doc_id, list_filter($tokensSql,
         |     x -> regexp_matches(x, '^[0-9]{13,19}$$')) AS cands FROM wd),
         | v AS (SELECT doc_id, len(cands) AS nc,
         |     len(list_filter(cands, c -> ${luhn("c")} % 10 = 0)) AS nv
         |   FROM tok)
         | SELECT count(*)::BIGINT AS n_docs, sum(nc)::BIGINT AS n_candidates,
         |   sum(nv)::BIGINT AS n_valid FROM v""".stripMargin
    }),

    // Length-bucketed batching plan: bucket histogram in one map-side
    // combine, exact padding+tail-slack waste ppm per bucket — the audit
    // that sizes dynamic-batching buckets before burning cluster time.
    QueryCase("q_length_buckets", ((s, dir) =>
      Curation.lengthBucketPlan(t(s, dir, "documents"), "doc_id", "text",
        bucketWidth = 16, batchTokens = 256)),
      s"""WITH n AS (SELECT len($tokensSql) AS n FROM documents
         |   WHERE len($tokensSql) > 0),
         | b AS (SELECT ((n - 1) // 16 + 1) * 16 AS bucket_ceiling,
         |     count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS sum_tokens
         |   FROM n GROUP BY 1),
         | c AS (SELECT *, 256 // bucket_ceiling AS capacity FROM b),
         | e AS (SELECT *,
         |     CASE WHEN capacity = 0 THEN 0
         |       ELSE (n_docs + capacity - 1) // capacity END AS n_batches,
         |     CASE WHEN capacity = 0 THEN 1 ELSE 0 END AS oversize FROM c)
         | SELECT CAST(bucket_ceiling AS BIGINT) AS bucket_ceiling, n_docs,
         |   sum_tokens, CAST(capacity AS BIGINT) AS capacity,
         |   CAST(n_batches AS BIGINT) AS n_batches,
         |   CAST(oversize AS INT) AS oversize,
         |   CAST(CASE WHEN capacity = 0 THEN 0
         |     ELSE ((n_batches * capacity * bucket_ceiling - sum_tokens)
         |       * 1000000) // (n_batches * capacity * bucket_ceiling)
         |   END AS BIGINT) AS waste_ppm
         | FROM e ORDER BY bucket_ceiling""".stripMargin),

    // RAKE keyphrases: stopword-delimited candidate runs scored by
    // integer degree/frequency sums — model-free corpus keywords; the
    // phrase-id pass is a per-document running count, word stats
    // vocab-bounded, output k-bounded.
    QueryCase("q_rake", ((s, dir) =>
      TextAnalysis.rakeKeyphrases(t(s, dir, "documents"), "doc_id", "text",
        RakeStopwords, maxPhraseLen = 4, topK = 30)),
      {
      val stops = RakeStopwords.map(s => s"'$s'").mkString(", ")
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         | tok AS (SELECT doc_id, unnest(ts) AS w,
         |     unnest(range(1, len(ts) + 1)) AS pos FROM tk),
         | f AS (SELECT doc_id, pos, w,
         |     CASE WHEN w IN ($stops) THEN 1 ELSE 0 END AS s FROM tok),
         | pid AS (SELECT doc_id, pos, w, s,
         |     sum(s) OVER (PARTITION BY doc_id ORDER BY pos) AS pid FROM f),
         | m AS (SELECT doc_id, pos, w, pid FROM pid WHERE s = 0),
         | ph AS (SELECT doc_id, pid,
         |     string_agg(w, ' ' ORDER BY pos) AS phrase,
         |     count(*)::BIGINT AS n_words
         |   FROM m GROUP BY doc_id, pid HAVING count(*) <= 4),
         | ws AS (SELECT w,
         |     (sum(n_words)::BIGINT * 1000000) // count(*) AS ws
         |   FROM m JOIN ph USING (doc_id, pid) GROUP BY w),
         | sc AS (SELECT m.doc_id, m.pid, ph.phrase, ph.n_words,
         |     sum(ws.ws)::BIGINT AS score
         |   FROM m JOIN ph USING (doc_id, pid) JOIN ws USING (w)
         |   GROUP BY 1, 2, 3, 4)
         | SELECT phrase, n_words, count(*)::BIGINT AS n_occurrences,
         |   max(score)::BIGINT AS score_ppm
         | FROM sc GROUP BY phrase, n_words
         | ORDER BY score_ppm DESC, phrase LIMIT 30""".stripMargin
    }),

    // Vocabulary coverage cutoffs: smallest vocab covering 90/95/99% of
    // token mass — exact within-class interpolation over the COUNT
    // HISTOGRAM (the window orders ≤ O(√tokens) histogram rows, never the
    // vocab); thresholds compared in DECIMAL.
    QueryCase("q_vocab_coverage", ((s, dir) =>
      TextAnalysis.vocabCoverage(t(s, dir, "documents"), "text")),
      s"""WITH tk AS (SELECT unnest($tokensSql) AS term FROM documents),
         | c AS (SELECT term, count(*)::BIGINT AS c FROM tk GROUP BY term),
         | tot AS (SELECT sum(c)::BIGINT AS total,
         |     count(*)::BIGINT AS vocab_full FROM c),
         | h AS (SELECT c, count(*)::BIGINT AS nterms FROM c GROUP BY c),
         | cum AS (SELECT c, nterms,
         |     sum(c * nterms) OVER (ORDER BY c DESC) AS cum_mass,
         |     sum(nterms) OVER (ORDER BY c DESC) AS cum_terms FROM h),
         | tg AS (SELECT unnest([900000, 950000, 990000]) AS target_ppm),
         | pick AS (SELECT tg.target_ppm, tot.total, tot.vocab_full, cum.c,
         |     cum.nterms, cum.cum_mass, cum.cum_terms,
         |     (tg.target_ppm::HUGEINT * tot.total + 999999) // 1000000 AS t
         |   FROM cum, tot, tg
         |   WHERE cum.cum_mass::HUGEINT * 1000000
         |       >= tg.target_ppm::HUGEINT * tot.total
         |     AND (cum.cum_mass - cum.c * cum.nterms)::HUGEINT * 1000000
         |       < tg.target_ppm::HUGEINT * tot.total),
         | f AS (SELECT target_ppm, total, vocab_full,
         |     cum_terms - nterms
         |       + ((t - (cum_mass - c * nterms) + c - 1) // c) AS vs,
         |     cum_mass - c * nterms
         |       + ((t - (cum_mass - c * nterms) + c - 1) // c) * c AS cov
         |   FROM pick)
         | SELECT CAST(target_ppm AS BIGINT) AS target_ppm,
         |   total AS total_tokens, vocab_full,
         |   CAST(vs AS BIGINT) AS vocab_size,
         |   CAST(cov AS BIGINT) AS covered_tokens,
         |   CAST((cov::HUGEINT * 1000000) // total AS BIGINT) AS covered_ppm
         | FROM f ORDER BY target_ppm""".stripMargin),

    // Term burstiness (Church & Gale index of dispersion): VMR of
    // per-doc counts with zeros included via the closed form — the
    // content-vs-function-word separator. DECIMAL(38,0) keeps (Σc)²
    // exact; wire mass is (doc, DISTINCT term) triples.
    QueryCase("q_burstiness", ((s, dir) =>
      TextAnalysis.burstiness(t(s, dir, "documents"), "doc_id", "text",
        minDf = 5, topK = 50)),
      s"""WITH d AS (SELECT doc_id, $tokensSql AS t FROM documents),
         | tot AS (SELECT count(*)::HUGEINT AS n FROM d),
         | pc AS (SELECT doc_id, term, count(*)::HUGEINT AS c FROM (
         |     SELECT doc_id, unnest(t) AS term FROM d) GROUP BY 1, 2),
         | a AS (SELECT term, count(*) AS df, sum(c) AS ct, sum(c*c) AS c2
         |   FROM pc GROUP BY term HAVING count(*) >= 5)
         | SELECT term, CAST(df AS BIGINT) AS df, CAST(ct AS BIGINT) AS c_total,
         |   CAST((1000000::HUGEINT * (n*c2 - ct*ct)) // (n*ct) AS BIGINT)
         |     AS vmr_ppm
         | FROM a, tot ORDER BY vmr_ppm DESC, term LIMIT 50""".stripMargin),

    // Per-source unigram KL divergence vs the corpus mix — the batch
    // drift audit behind mixture weights. One token-mass shuffle
    // (source, term); corpus counts derive from it; round(10⁶·ln) per
    // term before the DECIMAL sum; sign-factored final divide.
    QueryCase("q_kl_sources", ((s, dir) =>
      TextAnalysis.sliceKlDivergence(t(s, dir, "documents"), "source", "text")
        .withColumnRenamed("slice", "source")),
      s"""WITH d AS (SELECT source, $tokensSql AS t FROM documents),
         | sc AS (SELECT source, term, count(*)::BIGINT AS c_sw FROM (
         |     SELECT source, unnest(t) AS term FROM d) GROUP BY 1, 2),
         | cw AS (SELECT term, sum(c_sw)::BIGINT AS c_w FROM sc GROUP BY term),
         | cs AS (SELECT source, sum(c_sw)::BIGINT AS c_s,
         |     count(*)::BIGINT AS n_terms FROM sc GROUP BY source),
         | tot AS (SELECT sum(c_w)::BIGINT AS ct FROM cw),
         | w AS (SELECT sc.source, cs.c_s, cs.n_terms,
         |     sc.c_sw::HUGEINT * CAST(round(1000000e0 * ln(
         |       CAST(sc.c_sw * tot.ct AS DOUBLE) /
         |       CAST(cs.c_s * cw.c_w AS DOUBLE))) AS HUGEINT) AS wl
         |   FROM sc JOIN cw USING (term) JOIN cs USING (source), tot),
         | g AS (SELECT source, c_s, n_terms, sum(wl) AS s
         |   FROM w GROUP BY 1, 2, 3)
         | SELECT source, c_s AS n_tokens, n_terms,
         |   CAST(CASE WHEN s < 0 THEN -((-s) // c_s)
         |     ELSE s // c_s END AS BIGINT) AS kl_ppm
         | FROM g ORDER BY source""".stripMargin),

    // Per-source Jensen–Shannon divergence vs the REST of the corpus —
    // the symmetric, [0, ln2]-bounded drift score mixture tuning
    // publishes against (KL is unbounded on slice-only mass). Closed-form
    // absent-term mass keeps the scan on each slice's own vocab rows;
    // per-term round(1e6·ln) integerization, two sign-factored halves.
    QueryCase("q_jsd_slices", ((s, dir) =>
      TextAnalysis.sliceJsDivergence(t(s, dir, "documents"), "source",
        "text").withColumnRenamed("slice", "source")),
      s"""WITH d AS (SELECT source, $tokensSql AS t FROM documents),
         | sc AS (SELECT source, term, count(*)::BIGINT AS c_sw FROM (
         |     SELECT source, unnest(t) AS term FROM d) GROUP BY 1, 2),
         | cw AS (SELECT term, sum(c_sw)::BIGINT AS c_w FROM sc GROUP BY term),
         | cs AS (SELECT source, sum(c_sw)::BIGINT AS c_s FROM sc GROUP BY source),
         | tot AS (SELECT sum(c_w)::BIGINT AS ct FROM cw),
         | j AS (SELECT sc.source, cs.c_s, tot.ct - cs.c_s AS c_r,
         |     sc.c_sw, cw.c_w - sc.c_sw AS c_rw
         |   FROM sc JOIN cw USING (term) JOIN cs USING (source), tot),
         | w AS (SELECT source, c_s, c_r, c_rw,
         |     CASE WHEN c_r > 0 THEN c_sw::HUGEINT *
         |       CAST(round(1000000e0 * ln(
         |         CAST(2 * c_sw * c_r AS DOUBLE) /
         |         CAST(c_sw * c_r + c_rw * c_s AS DOUBLE))) AS HUGEINT)
         |       ELSE 0 END AS p,
         |     CASE WHEN c_r > 0 AND c_rw > 0 THEN c_rw::HUGEINT *
         |       CAST(round(1000000e0 * ln(
         |         CAST(2 * c_rw * c_s AS DOUBLE) /
         |         CAST(c_sw * c_r + c_rw * c_s AS DOUBLE))) AS HUGEINT)
         |       ELSE 0 END AS q
         |   FROM j),
         | g AS (SELECT source, c_s, c_r, sum(p) AS sp,
         |     sum(q) + (c_r::HUGEINT - sum(c_rw)) * 693147 AS sq
         |   FROM w GROUP BY source, c_s, c_r)
         | SELECT source, c_s AS n_tokens, c_r AS n_rest_tokens,
         |   CAST(CASE WHEN c_r = 0 THEN 0 ELSE
         |     (CASE WHEN sp < 0 THEN -1 ELSE 1 END) *
         |       (abs(sp) // (2 * c_s::HUGEINT)) +
         |     (CASE WHEN sq < 0 THEN -1 ELSE 1 END) *
         |       (abs(sq) // (2 * c_r::HUGEINT))
         |     END AS BIGINT) AS jsd_ppm
         | FROM g ORDER BY source""".stripMargin),

    // Vocabulary richness + Good–Turing coverage: is the type inventory
    // still growing (F1 mass) and what richness floor does Chao1 put on
    // the unseen vocabulary — the "pay for the next decade of crawl?"
    // number. One token-mass shuffle, then the O(√N)-bounded
    // frequency-of-frequencies histogram carries everything.
    QueryCase("q_vocab_richness", ((s, dir) =>
      TextAnalysis.vocabRichness(t(s, dir, "documents"), col("text"))),
      s"""WITH d AS (SELECT $tokensSql AS t FROM documents),
         | tc AS (SELECT term, count(*)::BIGINT AS c FROM (
         |     SELECT unnest(t) AS term FROM d) GROUP BY term),
         | ff AS (SELECT c, count(*)::BIGINT AS f FROM tc GROUP BY c),
         | g AS (SELECT coalesce(sum(c::HUGEINT * f), 0) AS n,
         |     coalesce(sum(f), 0)::BIGINT AS v,
         |     coalesce(sum(CASE WHEN c = 1 THEN f END), 0)::BIGINT AS f1,
         |     coalesce(sum(CASE WHEN c = 2 THEN f END), 0)::BIGINT AS f2
         |   FROM ff)
         | SELECT CAST(n AS BIGINT) AS n_tokens, v AS v_observed, f1, f2,
         |   CAST(v + (f1::HUGEINT * (f1 - 1)) // (2 * (f2 + 1)) AS BIGINT)
         |     AS chao1_est,
         |   CAST(CASE WHEN n = 0 THEN 0
         |     ELSE 1000000 - (f1::HUGEINT * 1000000) // n END AS BIGINT)
         |     AS coverage_ppm
         | FROM g""".stripMargin),

    // Rolling 7-day distinct users per day via MERGED daily KMV sketches —
    // the windowed member of the sketch triad: per-day k-min-hash state is
    // built once and reused by every window containing the day; only
    // k-length hash arrays ride the window fan-out. Exact tier + integer
    // 4σ audit bit, every output bit SQL-replayable.
    QueryCase("q_rolling_distinct", ((s, dir) =>
      Sketches.kmvRollingDistinct(events(s, dir),
          expr("ts_ms DIV 86400000"), "user_id", window = 7, k = 64)
        .presented("window_end")),
      rollingDistinctOracleSql(7, 64)),

    // ROUGE-L contamination: graded benchmark-overlap scoring — trigram
    // blocking with a per-side hot-gram cap, token-LCS DP per surviving
    // (train, benchmark) pair, F-measure in exact ppm. The oracle replays
    // the DP via the wavefront unroll (the sentence-align precedent).
    QueryCase("q_rouge_decontaminate", ((s, dir) =>
      Align.rougeLContamination(t(s, dir, "documents"), "doc_id", "text",
          col("doc_id") % 25 === 0, shingleK = 3, maxDocsPerGram = 100L,
          maxTokens = 16)
        .presented("a_id", "b_id")),
      rougeOracleSql(3, 100L, 16)),

    // Balanced training-shard plan: serpentine-by-size assignment to 8
    // shards (distributed rank — histogram offsets + per-count windows,
    // no global window), summarized per shard with the ppm spread audit.
    // Rendezvous (HRW) re-shard audit (r14): per-doc assignment at n = 8
    // and n = 9 plus the moved bit, one narrow pass — the stable
    // doc→shard map whose re-scale move fraction is ~1/(n+1) instead of
    // hash-mod's n/(n+1). FULLY oracled: the md5-48 argmax (weight DESC,
    // shard ASC ties) replays per row in SQL.
    QueryCase("q_rendezvous_shard", ((s, dir) =>
      Scale.rendezvousMoveAudit(t(s, dir, "documents"), "doc_id", 8, 9)
        .presented("doc_id")),
      """WITH w AS (SELECT doc_id, r.s,
        |     CAST(('0x' || substr(md5(doc_id::VARCHAR || '#' || r.s
        |       || '-graft'), 1, 12)) AS BIGINT) AS wt
        |   FROM documents, range(0, 9) r(s)),
        | a AS (SELECT doc_id, CAST(s AS INT) AS shard_a FROM (
        |     SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
        |       ORDER BY wt DESC, s) AS rn FROM w WHERE s < 8)
        |   WHERE rn = 1),
        | b AS (SELECT doc_id, CAST(s AS INT) AS shard_b FROM (
        |     SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
        |       ORDER BY wt DESC, s) AS rn FROM w)
        |   WHERE rn = 1)
        | SELECT a.doc_id, a.shard_a, b.shard_b,
        |   CAST(a.shard_a <> b.shard_b AS INT) AS moved
        | FROM a JOIN b USING (doc_id) ORDER BY a.doc_id""".stripMargin),

    QueryCase("q_shard_plan", ((s, dir) => {
      val asg = Curation.shardPlan(t(s, dir, "documents"), "doc_id", "text",
        nShards = 8)
      val per = asg.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      val ext = per.agg(max(col("total_tokens")).as("__mx"),
        min(col("total_tokens")).as("__mn"))
      per.crossJoin(broadcast(ext))
        .select(col("shard"), col("n_docs"), col("total_tokens"),
          when(col("__mx") === 0, lit(0L))
            .otherwise(expr("((__mx - __mn) * 1000000) DIV __mx"))
            .as("spread_ppm"))
        .presented("shard")
    }),
      s"""WITH d AS (SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS nt
         |   FROM documents),
         | r AS (SELECT doc_id, nt,
         |     row_number() OVER (ORDER BY nt DESC, doc_id) - 1 AS rank
         |   FROM d),
         | a AS (SELECT doc_id, nt, rank,
         |     CASE WHEN (rank // 8) % 2 = 0 THEN rank % 8
         |          ELSE 7 - rank % 8 END AS shard FROM r),
         | p AS (SELECT shard, count(*) AS n_docs, sum(nt) AS total_tokens
         |   FROM a GROUP BY shard),
         | x AS (SELECT max(total_tokens) AS mx, min(total_tokens) AS mn
         |   FROM p)
         | SELECT CAST(shard AS INT) AS shard, CAST(n_docs AS BIGINT) AS n_docs,
         |   CAST(total_tokens AS BIGINT) AS total_tokens,
         |   CAST(CASE WHEN mx = 0 THEN 0
         |     ELSE ((mx - mn) * 1000000) // mx END AS BIGINT) AS spread_ppm
         | FROM p, x ORDER BY shard""".stripMargin),

    // Dirichlet query-likelihood retrieval (the LM counterpart of BM25):
    // per-term contributions integerized round(1e6·ln) over all-integer
    // rationals — the score ITSELF is cross-engine exact, unlike BM25's
    // rank-only oracle.
    QueryCase("q_dirichlet_ql", ((s, dir) =>
      TextSearch.dirichletQlTopK(t(s, dir, "documents"), "doc_id", "text",
        Bm25Terms, k = 20, mu = 2000L)),
      dirichletQlOracleSql(Bm25Terms, 20, 2000L)),

    // Exact 10%-trimmed mean of document length per language: per-key
    // value histograms with overlap-exact tail drops — the robust length
    // summary outliers can't move. No sort, nothing row-scale shuffles.
    QueryCase("q_trimmed_mean", ((s, dir) =>
      Stats.trimmedMean(t(s, dir, "documents"), "lang", col("n_chars"),
        trimPpm = 100000L)),
      """WITH h AS (SELECT lang AS k, n_chars AS v, count(*)::BIGINT AS c
        |   FROM documents GROUP BY 1, 2),
        | cum AS (SELECT k, v, c,
        |     coalesce(sum(c) OVER (PARTITION BY k ORDER BY v
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo,
        |     coalesce(sum(c) OVER (PARTITION BY k ORDER BY v DESC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS hi
        |   FROM h),
        | t AS (SELECT k, sum(c)::BIGINT AS n, sum(v::HUGEINT * c) AS s
        |   FROM h GROUP BY k),
        | e AS (SELECT cum.k, t.n, t.s, (t.n * 100000) // 1000000 AS kk,
        |     least(cum.c, greatest((t.n * 100000) // 1000000 - cum.lo, 0))
        |       ::HUGEINT * cum.v AS bot,
        |     least(cum.c, greatest((t.n * 100000) // 1000000 - cum.hi, 0))
        |       ::HUGEINT * cum.v AS top
        |   FROM cum JOIN t USING (k)),
        | g AS (SELECT k, any_value(n) AS n, any_value(kk) AS kk,
        |     any_value(s) AS s, sum(bot) AS b, sum(top) AS tp
        |   FROM e GROUP BY k)
        | SELECT k AS lang, n, kk AS n_trimmed_each,
        |   CASE WHEN n - 2 * kk <= 0 THEN NULL
        |     ELSE CAST(((s - b - tp) * 1000000) // (n - 2 * kk) AS BIGINT)
        |   END AS trimmed_mean_x1e6
        | FROM g ORDER BY lang""".stripMargin),

    // Two-sample KS drift test on document length with a planted shift on
    // slice A (doc_id % 3 = 0 docs get +doc_id%11 chars): exact cross-mult
    // ECDF gap over the value histogram, squared integer α=0.05 verdict.
    QueryCase("q_ks_test", ((s, dir) => {
      val isA = col("doc_id") % 3 === 0
      Stats.ksTest(
        t(s, dir, "documents").select(col("doc_id"),
          (col("n_chars") + when(isA, pmod(col("doc_id"), lit(11L)))
            .otherwise(lit(0L))).as("v"), isA.as("a")),
        col("v"), col("a"))
    }),
      """WITH d AS (SELECT n_chars +
        |     CASE WHEN doc_id % 3 = 0 THEN ((doc_id % 11) + 11) % 11
        |       ELSE 0 END AS v,
        |     CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS a
        |   FROM documents),
        | h AS (SELECT v, sum(a)::BIGINT AS ca,
        |     sum(1 - a)::BIGINT AS cb FROM d GROUP BY v),
        | cum AS (SELECT v, sum(ca) OVER (ORDER BY v) AS cumA,
        |     sum(cb) OVER (ORDER BY v) AS cumB FROM h),
        | tot AS (SELECT sum(ca)::HUGEINT AS na, sum(cb)::HUGEINT AS nb
        |   FROM h),
        | g AS (SELECT max(abs(cumA::HUGEINT * nb - cumB::HUGEINT * na))
        |     AS dn, any_value(na) AS na, any_value(nb) AS nb
        |   FROM cum, tot)
        | SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |   CAST(dn AS BIGINT) AS d_num,
        |   CAST((dn * 1000000) // (na * nb) AS BIGINT) AS ks_ppm,
        |   CAST(((dn * 1000000) // (na * nb)) * dn > 1844164 * (na + nb)
        |     AS INT) AS reject_05
        | FROM g""".stripMargin),

    // Wilcoxon signed-rank over planted paired differences (x = n_chars
    // + (3·doc_id)%7 − 2, y = n_chars — an ASYMMETRIC diff mix so the
    // z² IEEE chain engages): zeros dropped, ×2 midranks over the |d|
    // histogram, one IEEE chain for the tie-corrected z².
    QueryCase("q_wilcoxon", ((s, dir) =>
      Stats.wilcoxonSignedRank(
        t(s, dir, "documents").select(
          (col("n_chars") + pmod(col("doc_id") * 3, lit(7L)) - 2).as("x"),
          col("n_chars").as("y")),
        col("x"), col("y"), knownBinsAtMostMax = true)),
      """WITH d0 AS (SELECT ((doc_id * 3 % 7) + 7) % 7 - 2 AS d
        |   FROM documents),
        | d AS (SELECT abs(d)::BIGINT AS v,
        |     CASE WHEN d > 0 THEN 1 ELSE 0 END AS p
        |   FROM d0 WHERE d <> 0),
        | h AS (SELECT v, sum(p)::BIGINT AS cp, count(*)::BIGINT AS ct
        |   FROM d GROUP BY v),
        | rk AS (SELECT cp, ct, 2 * coalesce(sum(ct) OVER (ORDER BY v
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |     + ct + 1 AS r2 FROM h),
        | g AS (SELECT coalesce(sum(ct), 0)::HUGEINT AS n,
        |     coalesce(sum(cp::HUGEINT * r2), 0) AS w2,
        |     coalesce(sum(ct::HUGEINT * ct * ct - ct), 0) AS t FROM rk),
        | z AS (SELECT n, w2,
        |     CASE WHEN w2 * 2 > n * (n + 1) THEN 1
        |       WHEN w2 * 2 < n * (n + 1) THEN -1 ELSE 0 END AS direction,
        |     CASE WHEN n = 0 OR
        |         2 * n * (n + 1) * (2 * n + 1) - t <= 0 THEN 0
        |       ELSE CAST(FLOOR(1000000.0 *
        |         ((CAST(abs(w2 * 2 - n * (n + 1)) AS DOUBLE) /
        |           CAST(2 * n * (n + 1) * (2 * n + 1) - t AS DOUBLE)) *
        |          CAST(abs(w2 * 2 - n * (n + 1)) AS DOUBLE)) * 3.0)
        |         AS BIGINT) END AS z2
        |   FROM g)
        | SELECT CAST(n AS BIGINT) AS n_nonzero,
        |   CAST(w2 AS BIGINT) AS w_plus_x2,
        |   CAST(direction AS INT) AS direction,
        |   CAST(z2 AS BIGINT) AS z2_ppm,
        |   CAST(z2 > 3841459 AS INT) AS significant_95
        | FROM z""".stripMargin),

    // Hodges–Lehmann robust center of n_chars: lower median of all
    // pairwise Walsh averages, collapsed onto the value histogram
    // (bins²-bounded cell cross, never row pairs); emitted ×2 so halves
    // never materialize.
    QueryCase("q_hodges_lehmann", ((s, dir) =>
      Stats.hodgesLehmann(t(s, dir, "documents"), col("n_chars"),
        knownBinsAtMostMax = true)),
      """WITH h AS (SELECT n_chars AS v, count(*)::BIGINT AS c
        |   FROM documents GROUP BY 1),
        | cells AS (SELECT a.v + b.v AS w,
        |     sum(CASE WHEN a.v = b.v THEN (a.c::HUGEINT * (a.c + 1)) // 2
        |       ELSE a.c::HUGEINT * b.c END) AS m
        |   FROM h a JOIN h b ON a.v <= b.v GROUP BY 1),
        | cum AS (SELECT w,
        |     sum(m) OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
        |       AND CURRENT ROW) AS hi,
        |     sum(m) OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
        |       AND CURRENT ROW) - m AS lo FROM cells),
        | tot AS (SELECT sum(c)::BIGINT AS n,
        |     (sum(c)::HUGEINT * (sum(c) + 1)) // 2 AS np FROM h)
        | SELECT tot.n, CAST(tot.np AS BIGINT) AS n_pairs, w AS hl_x2
        | FROM cum, tot
        | WHERE lo < (np + 1) // 2 AND (np + 1) // 2 <= hi""".stripMargin),

    // Wasserstein-1 over the exact q_ks_test fixture: the INTEGRATED
    // ECDF gap in value units (KS prices the worst point, W1 prices how
    // much mass moved how far) — gap-weighted cross-multiplied integers.
    QueryCase("q_wasserstein", ((s, dir) => {
      val isA = col("doc_id") % 3 === 0
      Stats.wassersteinShift(
        t(s, dir, "documents").select(col("doc_id"),
          (col("n_chars") + when(isA, pmod(col("doc_id"), lit(11L)))
            .otherwise(lit(0L))).as("v"), isA.as("a")),
        col("v"), col("a"), knownBinsAtMostMax = true)
    }),
      """WITH d AS (SELECT n_chars +
        |     CASE WHEN doc_id % 3 = 0 THEN ((doc_id % 11) + 11) % 11
        |       ELSE 0 END AS v,
        |     CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS a
        |   FROM documents),
        | h AS (SELECT v, sum(a)::BIGINT AS ca,
        |     sum(1 - a)::BIGINT AS cb FROM d GROUP BY v),
        | cum AS (SELECT v, sum(ca) OVER (ORDER BY v) AS cumA,
        |     sum(cb) OVER (ORDER BY v) AS cumB,
        |     lead(v) OVER (ORDER BY v) - v AS gap FROM h),
        | tot AS (SELECT sum(ca)::HUGEINT AS na, sum(cb)::HUGEINT AS nb
        |   FROM h),
        | g AS (SELECT coalesce(sum(gap::HUGEINT *
        |       abs(cumA::HUGEINT * nb - cumB::HUGEINT * na)), 0) AS s,
        |     any_value(na) AS na, any_value(nb) AS nb
        |   FROM cum, tot WHERE gap IS NOT NULL)
        | SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |   CAST(CASE WHEN na = 0 OR nb = 0 THEN 0
        |     ELSE (s * 1000000) // (na * nb) END AS BIGINT) AS w1_x1e6
        | FROM g""".stripMargin),

    // Population Stability Index over the same fixture at 32 equal-width
    // bins (the knee engages deliberately): add-one smoothed shares,
    // per-bin round(1e6·ln) integerization, industry 0.10/0.25 bits.
    QueryCase("q_psi_drift", ((s, dir) => {
      val isA = col("doc_id") % 3 === 0
      Stats.psiDrift(
        t(s, dir, "documents").select(col("doc_id"),
          (col("n_chars") + when(isA, pmod(col("doc_id"), lit(11L)))
            .otherwise(lit(0L))).as("v"), isA.as("a")),
        col("v"), col("a"), maxHistBins = 32)
    }),
      """WITH d AS (SELECT n_chars +
        |     CASE WHEN doc_id % 3 = 0 THEN ((doc_id % 11) + 11) % 11
        |       ELSE 0 END AS v,
        |     CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS a
        |   FROM documents),
        | st AS (SELECT count(DISTINCT v)::BIGINT AS nd,
        |     min(v)::BIGINT AS lo, (max(v) - min(v)) // 32 + 1 AS w
        |   FROM d),
        | b AS (SELECT CASE WHEN st.nd <= 32 THEN v
        |     ELSE (v - st.lo) // st.w END AS v, a FROM d, st),
        | h AS (SELECT v, sum(a)::BIGINT AS ca,
        |     sum(1 - a)::BIGINT AS cb FROM b GROUP BY v),
        | tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb,
        |     count(*)::BIGINT AS m FROM h),
        | t AS (SELECT na, nb, m,
        |     ((ca + 1)::HUGEINT * (nb + m) - (cb + 1)::HUGEINT * (na + m))
        |       * CAST(round(1000000e0 * ln(
        |         ((ca + 1)::DOUBLE * (nb + m)) /
        |         ((cb + 1)::DOUBLE * (na + m)))) AS HUGEINT) AS tt
        |   FROM h, tot),
        | g AS (SELECT any_value(na) AS na, any_value(nb) AS nb,
        |     any_value(m) AS m, sum(tt) AS s FROM t),
        | z AS (SELECT na, nb, m,
        |     CASE WHEN na = 0 OR nb = 0 THEN 0
        |       ELSE greatest(s // ((na::HUGEINT + m) * (nb::HUGEINT + m)),
        |         0) END AS psi FROM g)
        | SELECT na AS n_a, nb AS n_b, m AS n_bins,
        |   CAST(psi AS BIGINT) AS psi_ppm,
        |   CAST(psi > 100000 AS INT) AS watch_01,
        |   CAST(psi > 250000 AS INT) AS act_025
        | FROM z""".stripMargin),

    // Tie-corrected Mann–Whitney U over the same slice axis as q_ks_test
    // but a smaller planted shift (+doc_id%7 chars on slice A) so the
    // tie-mass term does real work on the discrete n_chars histogram:
    // exact ×2 rank-sum + DECIMAL tie mass, one fixed IEEE chain for z².
    QueryCase("q_mann_whitney", ((s, dir) => {
      val isA = col("doc_id") % 3 === 0
      Stats.mannWhitneyU(
        t(s, dir, "documents").select(col("doc_id"),
          (col("n_chars") + when(isA, pmod(col("doc_id"), lit(7L)))
            .otherwise(lit(0L))).as("v"), isA.as("a")),
        col("v"), col("a"), knownBinsAtMostMax = true)
    }),
      """WITH d AS (SELECT n_chars +
        |     CASE WHEN doc_id % 3 = 0 THEN ((doc_id % 7) + 7) % 7
        |       ELSE 0 END AS v,
        |     CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS a
        |   FROM documents),
        | h AS (SELECT v, sum(a)::BIGINT AS ca,
        |     sum(1 - a)::BIGINT AS cb FROM d GROUP BY v),
        | cum AS (SELECT ca, cb, coalesce(sum(cb) OVER (ORDER BY v
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |     AS nbb FROM h),
        | g AS (SELECT sum(ca)::HUGEINT AS na, sum(cb)::HUGEINT AS nb,
        |     sum(ca::HUGEINT * (2 * nbb::HUGEINT + cb)) AS u2a,
        |     sum((ca + cb)::HUGEINT * (ca + cb) * (ca + cb) - (ca + cb))
        |       AS t FROM cum),
        | z AS (SELECT na, nb, u2a,
        |     CASE WHEN u2a > na * nb THEN 1
        |       WHEN u2a < na * nb THEN -1 ELSE 0 END AS direction,
        |     CASE WHEN na = 0 OR nb = 0 OR
        |         (na + nb) * ((na + nb) * (na + nb) - 1) - t = 0 THEN 0
        |       ELSE CAST(FLOOR(1000000.0 *
        |         ((CAST(abs(u2a - na * nb) AS DOUBLE) /
        |             CAST(na * nb AS DOUBLE)) *
        |           CAST(abs(u2a - na * nb) AS DOUBLE)) *
        |         (CAST(3 * (na + nb) * (na + nb - 1) AS DOUBLE) /
        |           CAST((na + nb) * ((na + nb) * (na + nb) - 1) - t
        |             AS DOUBLE))) AS BIGINT) END AS z2
        |   FROM g)
        | SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |   CAST(u2a AS BIGINT) AS u_a_x2,
        |   CAST(direction AS INT) AS direction,
        |   CAST(z2 AS BIGINT) AS z2_ppm,
        |   CAST(z2 > 3841459 AS INT) AS significant_95
        | FROM z""".stripMargin),

    // Cohen's κ inter-rater agreement over a planted disagreement pattern
    // (rater B mislabels every 7th doc): one |labels|²-bounded confusion
    // aggregation, chance-corrected in DECIMAL(38,0), sign-factored divide.
    QueryCase("q_kappa", ((s, dir) =>
      Stats.cohenKappa(
        t(s, dir, "documents").select(
          col("lang").as("rater_a"),
          when(col("doc_id") % 7 === 0, lit("zz")).otherwise(col("lang"))
            .as("rater_b")),
        "rater_a", "rater_b")),
      """WITH d AS (SELECT lang AS a,
        |     CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END AS b
        |   FROM documents),
        | cm AS (SELECT a, b, count(*)::BIGINT AS c FROM d GROUP BY 1, 2),
        | rt AS (SELECT a AS l, sum(c) AS r FROM cm GROUP BY 1),
        | ct AS (SELECT b AS l, sum(c) AS s FROM cm GROUP BY 1),
        | p AS (SELECT sum(r::HUGEINT * s::HUGEINT) AS p
        |   FROM rt JOIN ct USING (l)),
        | base AS (SELECT sum(c)::HUGEINT AS n,
        |     sum(CASE WHEN a = b THEN c ELSE 0 END)::HUGEINT AS agree
        |   FROM cm)
        | SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS n_agree,
        |   CAST((agree * 1000000) // n AS BIGINT) AS po_ppm,
        |   CAST((p.p * 1000000) // (n * n) AS BIGINT) AS pe_ppm,
        |   CAST(CASE WHEN n * n = p.p THEN 0
        |     WHEN agree * n < p.p
        |       THEN -(((p.p - agree * n) * 1000000) // (n * n - p.p))
        |     ELSE ((agree * n - p.p) * 1000000) // (n * n - p.p)
        |   END AS BIGINT) AS kappa_ppm
        | FROM base, p""".stripMargin),

    // Robust MAD outlier census of document lengths per language — the
    // heavy-tail-safe z-score: exact ×2/×4 integer median/MAD algebra
    // (the quarterPercentiles midpoint convention), ppm flag threshold.
    QueryCase("q_mad_outliers", ((s, dir) =>
      Stats.madOutliers(t(s, dir, "documents"), "lang", "n_chars")
        .presented("key")),
      """WITH b AS (SELECT lang AS key, n_chars AS v FROM documents
        |   WHERE n_chars IS NOT NULL),
        | m AS (SELECT key, CAST(quantile_cont(v, 0.5) * 2 AS BIGINT)
        |     AS med2, count(*)::BIGINT AS n FROM b GROUP BY 1),
        | d AS (SELECT b.key, abs(2 * v - med2)::BIGINT AS dev2
        |   FROM b JOIN m USING (key)),
        | md AS (SELECT key, CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT)
        |     AS mad4, max(dev2)::BIGINT AS max_dev2 FROM d GROUP BY 1),
        | o AS (SELECT d.key, CAST(count(*) FILTER (
        |       WHERE dev2 * 2000000 > 3500000 * mad4) AS BIGINT)
        |     AS n_outliers
        |   FROM d JOIN md USING (key) GROUP BY 1)
        | SELECT m.key, m.n, m.med2, md.mad4, o.n_outliers, md.max_dev2
        | FROM m JOIN md USING (key) JOIN o USING (key)
        | ORDER BY m.key""".stripMargin),

    // Benford first-digit audit of floored order totals per priority
    // class — the fabricated-data detector: observed digit counts vs the
    // shared round(1e6·log10(1+1/d)) literals, exact integer
    // total-variation distance per key.
    QueryCase("q_benford", ((s, dir) =>
      Stats.benfordAudit(
        t(s, dir, "orders").select(col("o_orderpriority"),
          floor(col("o_totalprice")).cast("long").as("v")),
        "o_orderpriority", "v")
        .presented("key", "digit")),
      // Benford replay: the engine's ppm literals interpolated verbatim, the
      // same floor/positivity gate, first decimal character, zero-filled
      // digit rows, HUGEINT tvd numerator.
      {
      val lits = graft.ops.Stats.BenfordPpm
        .map { case (d, e) => s"($d, ${e}::BIGINT)" }.mkString(", ")
      s"""WITH e AS (SELECT * FROM (VALUES $lits) AS t(digit, e_ppm)),
         | src AS (SELECT o_orderpriority AS key,
         |     CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders),
         | obs AS (SELECT key,
         |     CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
         |     count(*)::BIGINT AS o
         |   FROM src WHERE v > 0 GROUP BY 1, 2),
         | k AS (SELECT key, sum(o)::BIGINT AS n FROM obs GROUP BY 1),
         | f AS (SELECT k.key, k.n, e.digit,
         |     COALESCE(obs.o, 0)::BIGINT AS observed, e.e_ppm
         |   FROM k CROSS JOIN e
         |   LEFT JOIN obs ON obs.key = k.key AND obs.digit = e.digit),
         | tvd AS (SELECT key,
         |     CAST(sum(abs(observed::HUGEINT * 1000000
         |         - n::HUGEINT * e_ppm))
         |       // (2 * any_value(n)) AS BIGINT) AS tvd_ppm
         |   FROM f GROUP BY key)
         | SELECT f.key, f.n, f.digit, f.observed,
         |   f.e_ppm AS expected_ppm, tvd.tvd_ppm
         | FROM f JOIN tvd USING (key) ORDER BY key, digit""".stripMargin
    }),

    // Krippendorff's α (nominal) over a synthesized mixed-panel rating
    // design: panels of 3 (most docs), 2 (doc_id % 5 = 0), and 1
    // (doc_id % 17 = 0 — unpairable, excluded by the statistic itself);
    // each rater mislabels every 11th doc on its own phase. Exercises the
    // variable-panel lcm scaling (denominators {1, 2} → D = 2) that κ
    // cannot express. Oracle replays the full coincidence algebra.
    QueryCase("q_krippendorff", ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id")
      def rater(r: Int, cond: Column): DataFrame =
        d.where(cond).select(col("doc_id").as("item"), lit(r).as("rater"),
          when((col("doc_id") + r * 31) % 11 === 0, (col("doc_id") + r) % 4)
            .otherwise(col("doc_id") % 4).as("label"))
      val ratings = rater(1, lit(true))
        .unionByName(rater(2, col("doc_id") % 17 =!= 0))
        .unionByName(rater(3,
          col("doc_id") % 5 =!= 0 && col("doc_id") % 17 =!= 0))
      Stats.krippendorffAlpha(ratings, "item", "rater", "label")
    }),
      // Full coincidence-matrix replay: Σo scaled by the fixture's lcm
      // D = 2 (panel sizes {2, 3} → denominators {1, 2}), marginals over
      // pairable items, sign-factored truncating divide — the engine's
      // algebra verbatim.
      """WITH r AS (
        |   SELECT doc_id AS item, 1 AS rater,
        |     CASE WHEN (doc_id + 31) % 11 = 0 THEN (doc_id + 1) % 4
        |       ELSE doc_id % 4 END AS label FROM documents
        |   UNION ALL
        |   SELECT doc_id, 2,
        |     CASE WHEN (doc_id + 62) % 11 = 0 THEN (doc_id + 2) % 4
        |       ELSE doc_id % 4 END FROM documents WHERE doc_id % 17 <> 0
        |   UNION ALL
        |   SELECT doc_id, 3,
        |     CASE WHEN (doc_id + 93) % 11 = 0 THEN (doc_id + 3) % 4
        |       ELSE doc_id % 4 END FROM documents
        |   WHERE doc_id % 5 <> 0 AND doc_id % 17 <> 0),
        | cnt AS (SELECT item, label, count(*)::BIGINT AS c
        |   FROM r GROUP BY 1, 2),
        | it AS (SELECT item, sum(c) AS ni, sum(c * c) AS s2
        |   FROM cnt GROUP BY 1),
        | p AS (SELECT * FROM it WHERE ni >= 2),
        | agg AS (SELECT sum((ni * ni - s2)::HUGEINT * (2 // (ni - 1)))
        |     AS sdo, sum(ni)::HUGEINT AS n, count(*)::BIGINT AS np
        |   FROM p),
        | mg AS (SELECT sum(nc::HUGEINT * nc) AS snc2,
        |     count(*)::BIGINT AS nlab
        |   FROM (SELECT label, sum(c) AS nc
        |     FROM cnt JOIN p USING (item) GROUP BY 1)),
        | f AS (SELECT (SELECT count(*) FROM it) AS n_items, np, n, nlab,
        |     n * n - snc2 AS m, n - 1 AS n1, sdo
        |   FROM agg, mg)
        | SELECT CAST(n_items AS BIGINT) AS n_items,
        |   CAST(np AS BIGINT) AS n_pairable_items,
        |   CAST(n AS BIGINT) AS n_values,
        |   CAST(nlab AS BIGINT) AS n_labels,
        |   CAST(CASE WHEN m = 0 THEN 0
        |     WHEN m * 2 - n1 * sdo < 0
        |       THEN -((abs(m * 2 - n1 * sdo) * 1000000) // (m * 2))
        |     ELSE (abs(m * 2 - n1 * sdo) * 1000000) // (m * 2)
        |   END AS BIGINT) AS alpha_ppm
        | FROM f""".stripMargin),

    // RM1 pseudo-relevance-feedback expansion: Dirichlet-QL feedback set
    // (k-bounded), corpus broadcast-semi-filtered to the ≤ 10 feedback
    // docs, expansion terms by exact length-normalized feedback mass.
    QueryCase("q_prf_expand", ((s, dir) =>
      TextSearch.prfExpansionTerms(t(s, dir, "documents"), "doc_id", "text",
        Bm25Terms, fbDocs = 10, fbTerms = 15, mu = 2000L)),
      prfOracleSql(Bm25Terms, 10, 15, 2000L)),

    // Ranked-retrieval scorecard: a 5-query length-normalized-tf run
    // (k-bounded via the payload top-k aggregate — no window over corpus
    // rows) evaluated against tf-graded qrels with all-integer nDCG@10 /
    // MRR / recall@10 (driver-literal log₂ discounts, histogram-closed-
    // form IDCG). The judge of every retrieval stack in TextSearch.
    QueryCase("q_retrieval_eval", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tok = docs.select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("query"))
        .where(col("query").isInCollection(EvalTerms))
      val tf = tok.groupBy("query", "doc_id").agg(count(lit(1)).as("__tf"))
      val dl = docs.select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("__dl"))
        .where(col("__dl") > 0)
      val scored = tf.join(dl, Seq("doc_id"))
        .select(col("query"), col("doc_id"),
          expr("(__tf * 1000000) DIV __dl").as("__score"))
      val run = scored.groupBy("query")
        .agg(graft.functions.TopKByScorePayload.topk_by_score_payload(
          col("__score").cast("double"), col("doc_id"), lit(0.0), 10)
          .as("__t"))
        .select(col("query"), posexplode(col("__t")))
        .select(col("query"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("doc_id"))
      val qrels = tf.select(col("query"), col("doc_id"),
        (least(col("__tf"), lit(3L)) - 1).as("grade"))
      TextSearch.retrievalEval(run, qrels, k = 10)
    }),
      retrievalEvalOracleSql(EvalTerms, 10)))

  /** Shared input for the interval queries: points = distinct order dates
    * as epoch days; intervals = a deterministic "in transit" window per
    * sampled lineitem (ship date + 1..28 days, derived from the keys so
    * DuckDB rebuilds the identical windows).
    */
  private def shipmentWindows(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val points = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("d"))
      .distinct()
    val iv = t(s, dir, "lineitem")
      .where(col("l_orderkey") % 7 === 0)
      .select((col("l_orderkey") * 10 + col("l_linenumber")).as("iv_id"),
        datediff(col("l_shipdate"), lit("1970-01-01")).cast("long").as("s_day"),
        (datediff(col("l_shipdate"), lit("1970-01-01")).cast("long") +
          (col("l_orderkey") + col("l_linenumber")) % 28 + 1).as("e_day"))
    (points, iv)
  }

  /** DuckDB fragment: the interval queries' shared input — mirrors
    * [[shipmentWindows]] (epoch days via datediff, same key-derived window
    * widths).
    */
  private val shipmentWindowsSql =
    """p AS (SELECT DISTINCT datediff('day', DATE '1970-01-01', o_orderdate::DATE)
      |     AS d FROM orders),
      | iv AS (SELECT l_orderkey * 10 + l_linenumber AS iv_id,
      |     datediff('day', DATE '1970-01-01', l_shipdate::DATE) AS s_day,
      |     datediff('day', DATE '1970-01-01', l_shipdate::DATE)
      |       + (l_orderkey + l_linenumber) % 28 + 1 AS e_day
      |   FROM lineitem WHERE l_orderkey % 7 = 0)""".stripMargin

  /** DuckDB fragment: the engine's tokenizer (lowercased whitespace split,
    * empties dropped) over a column named `text`.
    */
  private val tokensSql =
    """list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"""

  /** The full iterative BPE trainer as ONE DuckDB query: `n` chained CTE
    * triples (pair counts → deterministic argmax → merge application), one
    * per learned merge — each step's tokenization genuinely depends on the
    * previous step's argmax, exactly like [[graft.ops.Bpe.learnMerges]]'s
    * loop. Merge application mirrors `Bpe.applyMerge`'s left-to-right
    * non-overlapping fuse via `list_reduce`: fold symbols left to right,
    * fusing the accumulator's LAST symbol with the incoming one when they
    * equal (l, r). A fused symbol can only re-fuse when it equals `l`
    * again, which requires l || r == l (impossible) — so the fold emits
    * exactly the single-pass rewrite.
    */
  private def bpeCtesSql(n: Int): String = {
    val steps = (0 until n).map { k =>
      s""" p$k AS (SELECT cnt,
         |     unnest([[s[i], s[i+1]] for i in range(1, len(s))]) AS p
         |   FROM w$k),
         | t$k AS (SELECT p[1] AS l, p[2] AS r, CAST(sum(cnt) AS BIGINT) AS n
         |   FROM p$k GROUP BY 1, 2 ORDER BY n DESC, l, r LIMIT 1),
         | w${k + 1} AS (SELECT list_reduce(list_transform(s, x -> [x]),
         |     (acc, x) -> CASE WHEN acc[-1] = t$k.l AND x[1] = t$k.r
         |                 THEN acc[:len(acc)-1] || [t$k.l || t$k.r]
         |                 ELSE acc || x END) AS s, cnt
         |   FROM w$k, t$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH wc AS (SELECT w, count(*) AS cnt FROM (
       |     SELECT unnest($tokensSql) AS w FROM documents) GROUP BY w),
       | w0 AS (SELECT list_append(string_split(w, ''), '</w>') AS s, cnt
       |   FROM wc),
       |$steps""".stripMargin
  }

  private def bpeMergesOracleSql(n: Int): String = {
    val finals = (0 until n).map { k =>
      s"""SELECT $k AS step, l AS "left", r AS "right", n AS pair_count FROM t$k"""
    }.mkString("\n UNION ALL ")
    s"""${bpeCtesSql(n)}
       |$finals
       |ORDER BY step""".stripMargin
  }

  /** Encode side: the corpus token counts under the n learned merges are
    * just the symbol counts of the final rewritten word table w_n.
    */
  private def bpeEncodeOracleSql(n: Int): String =
    s"""${bpeCtesSql(n)}
       |SELECT token, CAST(sum(cnt) AS BIGINT) AS n
       |FROM (SELECT unnest(s) AS token, cnt FROM w$n)
       |GROUP BY token ORDER BY n DESC, token LIMIT 200""".stripMargin

  /** The unigram-LM vocabulary CTE chain (shared by the vocab dump and
    * the encode replay): word counts → substring census (lengths
    * 1..maxPieceLen, weighted by word count) → all single chars + the
    * top (vocabSize − #chars) multi-char pieces by (count desc, piece
    * asc) → round(10⁶·ln(n/total)) scores over the kept mass. Mirrors
    * [[graft.ops.UnigramLm.fitVocab]] clause for clause.
    */
  private def unigramVocabCtesSql(vocabSize: Int, maxPieceLen: Int): String =
    s"""WITH words AS MATERIALIZED (
       |   SELECT w, count(*)::BIGINT AS wc
       |   FROM (SELECT unnest(t) AS w
       |     FROM (SELECT $tokensSql AS t FROM documents))
       |   WHERE len(w) <= 256
       |   GROUP BY 1),
       | pc AS MATERIALIZED (
       |   SELECT substr(w, i, l) AS piece, sum(wc)::BIGINT AS n
       |   FROM (
       |     SELECT w, wc, i, unnest(generate_series(1,
       |         least($maxPieceLen, len(w) - i + 1))) AS l
       |     FROM (SELECT w, wc, unnest(generate_series(1, len(w))) AS i
       |       FROM words))
       |   GROUP BY 1),
       | ch AS MATERIALIZED (SELECT piece, n FROM pc WHERE len(piece) = 1),
       | mu AS MATERIALIZED (SELECT piece, n FROM (
       |     SELECT piece, n,
       |       row_number() OVER (ORDER BY n DESC, piece) AS rn
       |     FROM pc WHERE len(piece) > 1)
       |   WHERE rn <= greatest($vocabSize - (SELECT count(*) FROM ch), 0)),
       | v AS MATERIALIZED (SELECT * FROM ch UNION ALL SELECT * FROM mu),
       | tot AS MATERIALIZED (SELECT sum(n)::BIGINT AS t FROM v),
       | vs AS MATERIALIZED (SELECT piece, n,
       |     CAST(round(1000000 * ln(n::DOUBLE / t)) AS BIGINT) AS score_ppm
       |   FROM v, tot)""".stripMargin

  /** Viterbi replay: `maxWordLen` unrolled position levels. Level j picks,
    * per word of length ≥ j, the best candidate over split points
    * i ∈ [j − maxPieceLen, j) — a LEFT JOIN of level i against the
    * vocabulary on substr(w, i+1, j−i), unknown single chars at the unk
    * score, longer unknown substrings excluded. The argmax is one struct
    * max with key (score, −np, −i): score first, then fewer pieces, then
    * the longest final piece — the engine's tie-break exactly; the piece
    * string rides in the struct tail and never decides (i alone is
    * unique). Words past maxWordLen route whole at the unk score.
    */
  private def unigramEncodeCtesSql(vocabSize: Int, maxPieceLen: Int,
      maxWordLen: Int, unk: Long): String = {
    val levels = (1 to maxWordLen).map { j =>
      val cands = (math.max(0, j - maxPieceLen) until j).map { i =>
        s"""SELECT a.w AS w,
           |  a.score + CASE WHEN v.score_ppm IS NOT NULL THEN v.score_ppm
           |    ELSE $unk END AS score,
           |  a.np + 1 AS np, $i AS i,
           |  a.pieces || '|' || substr(a.w, ${i + 1}, ${j - i}) AS pieces
           |FROM l$i a LEFT JOIN vs v
           |  ON v.piece = substr(a.w, ${i + 1}, ${j - i})
           |WHERE len(a.w) >= $j
           |  AND (v.piece IS NOT NULL OR ${j - i} = 1)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s""",
         | l$j AS MATERIALIZED (
         |   SELECT w, struct_extract(b, 'score') AS score,
         |     -struct_extract(b, 'negnp') AS np,
         |     struct_extract(b, 'pieces') AS pieces
         |   FROM (SELECT w, max(struct_pack(score := score, negnp := -np,
         |       negi := -i, pieces := pieces)) AS b
         |     FROM ($cands) GROUP BY w))""".stripMargin
    }.mkString
    val finals = (1 to maxWordLen).map { j =>
      s"""SELECT b.w AS word, b.wc AS n, substr(l.pieces, 2) AS pieces,
         |  CAST(l.np AS BIGINT) AS n_pieces, l.score AS score_ppm
         |FROM l$j l JOIN w16 b ON b.w = l.w AND len(b.w) = $j""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${unigramVocabCtesSql(vocabSize, maxPieceLen)},
       | w16 AS MATERIALIZED (
       |   SELECT w, wc FROM words WHERE len(w) <= $maxWordLen),
       | l0 AS MATERIALIZED (
       |   SELECT w, CAST(0 AS BIGINT) AS score, 0 AS np, '' AS pieces
       |   FROM w16)$levels,
       | enc AS MATERIALIZED (
       |   $finals
       |   UNION ALL
       |   SELECT w, wc, w, 1, CAST($unk AS BIGINT)
       |   FROM words WHERE len(w) > $maxWordLen)""".stripMargin
  }

  private def unigramEncodeOracleSql(vocabSize: Int, maxPieceLen: Int,
      maxWordLen: Int, unk: Long, limit: Int): String =
    s"""${unigramEncodeCtesSql(vocabSize, maxPieceLen, maxWordLen, unk)}
       | SELECT word, n, pieces, n_pieces, score_ppm FROM enc
       | ORDER BY n DESC, word LIMIT $limit""".stripMargin

  /** One hard-EM refit round replayed: Viterbi usage counts (pieces of
    * the `enc` chain, weighted by word count, restricted to the
    * vocabulary), single-char pieces floored to usage 1 (coverage), and
    * fresh round(10⁶·ln) scores over the kept usage mass.
    */
  private def unigramRefitOracleSql(vocabSize: Int, maxPieceLen: Int,
      maxWordLen: Int, unk: Long): String =
    s"""${unigramEncodeCtesSql(vocabSize, maxPieceLen, maxWordLen, unk)},
       | use0 AS MATERIALIZED (
       |   SELECT piece, sum(n)::BIGINT AS u FROM (
       |     SELECT unnest(string_split(pieces, '|')) AS piece, n FROM enc)
       |   GROUP BY 1),
       | kept AS MATERIALIZED (
       |   SELECT v.piece,
       |     CASE WHEN len(v.piece) = 1
       |          THEN greatest(COALESCE(u.u, 0), 1)
       |          ELSE COALESCE(u.u, 0) END AS n
       |   FROM vs v LEFT JOIN use0 u ON u.piece = v.piece),
       | k2 AS MATERIALIZED (SELECT piece, n FROM kept WHERE n >= 1),
       | t2 AS (SELECT sum(n)::BIGINT AS t FROM k2)
       | SELECT piece, n,
       |   CAST(round(1000000 * ln(n::DOUBLE / t)) AS BIGINT) AS score_ppm
       | FROM k2, t2 ORDER BY piece""".stripMargin

  /** Greedy k-center unrolled: d_i holds each point's min ROUNDED distance
    * to centers 0..i; c_{i+1} is the (d desc, id) argmax excluding prior
    * centers — the exact floating-point policy of
    * [[graft.ops.Similarity.kCenterSample]].
    */
  private def kCenterOracleSql(k: Int): String = {
    val steps = (1 until k).map { i =>
      val excl = (0 until i).map(j => s"SELECT vec_id FROM c$j").mkString(" UNION ALL ")
      s""" c$i AS MATERIALIZED (SELECT vec_id, e, d FROM d${i - 1}
         |   WHERE vec_id NOT IN ($excl)
         |   ORDER BY d DESC, vec_id LIMIT 1),
         | d$i AS MATERIALIZED (SELECT d${i - 1}.vec_id, d${i - 1}.e,
         |     least(d${i - 1}.d,
         |       round(1 - list_cosine_similarity(d${i - 1}.e, c$i.e), 6)) AS d
         |   FROM d${i - 1}, c$i)""".stripMargin
    }.mkString(",\n")
    val finals = (s"""SELECT 0 AS "rank", vec_id, CAST(NULL AS DOUBLE) AS dist FROM c0""" +:
      (1 until k).map(i => s"""SELECT $i, vec_id, d FROM c$i"""))
      .mkString("\n UNION ALL ")
    // Every d$i is referenced twice (by c${i+1} and d${i+1}); DuckDB
    // inlines plain CTEs, so without MATERIALIZED the chain re-evaluates
    // the base scan 2^(k-1) times — the r14 driver-compare blow-up.
    s"""WITH v AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |     FROM embeddings WHERE embedding IS NOT NULL),
       | c0 AS MATERIALIZED (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 1),
       | d0 AS MATERIALIZED (SELECT v.vec_id, v.e,
       |     round(1 - list_cosine_similarity(v.e, c0.e), 6) AS d
       |   FROM v, c0),
       |$steps
       |$finals
       |ORDER BY "rank"""".stripMargin
  }

  /** Hilbert xy2d unrolled to `maxBits` GUARDED CTE levels: level i is a
    * no-op (s = 0 pass-through) once i ≥ the data-fitted bit count, so
    * the static unroll serves any occupied key range up to 2^maxBits.
    * Each active level takes the quadrant digit (3·rx XOR ry, weighted
    * s²) and applies the reflect-then-swap rotation — the exact loop of
    * [[graft.functions.HilbertOps.index]]; the bit fit replays
    * zorderStats' integer rule capped at maxBits.
    */
  /** Guarded-unroll oracle for [[graft.ops.Graph.kCore]]: `rounds` peel
    * steps as chained CTEs — each recomputes degrees and keeps ≥ k
    * vertices' edges; rounds past the fixpoint are no-ops, and the
    * engine REQUIRES convergence, so equality holds whenever the true
    * peel depth ≤ rounds (asserted by the engine side at this scale).
    */
  /** The GROWING-graph key space: |V| ∝ corpus (docs / 50, floor 10), so
    * the synthesized domain graph's vertex AND edge sets scale with the
    * data — the fixed mod-100 fixtures pin plan shape but are
    * size-invariant by construction, which makes their sf rows vacuous as
    * scaling evidence. Both engines derive the SAME modulus from the
    * corpus count (floor division on positive ints), and the endpoint
    * expressions mirror [[scaledDomainEdges]]'s prime mix.
    */
  private val ScaledVSql = "(SELECT greatest(count(*) // 50, 10) FROM documents)"
  private val ScaledU0 = "(doc_id % 1000003) % nv.m"
  private val ScaledV1 =
    "(((doc_id % 1000003) * (doc_id % 1000003) + 7) % 1000003) % nv.m"
  private val ScaledV2 =
    "(((doc_id % 1000003) * (doc_id % 1000003) * 17 + 3) % 1000003) % nv.m"
  private val PlainU0 = "doc_id % nv.m"
  private val PlainV1 = "(doc_id*31+7) % nv.m"
  private val PlainV2 = "(doc_id*17+3) % nv.m"

  /** [[graft.engine.Reporting.markovStationary]] oracle: the transition
    * matrix from the windowed lead, then `iters` unrolled integer power
    * steps — per-edge floor sends over HUGEINT, uniform ⌊base/k⌋ start,
    * dangling types shed mass — exactly the driver-side BigInt loop.
    */
  private def markovOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""p$i AS (SELECT ty.et, coalesce(s.v, 0) AS v FROM ty LEFT JOIN (
         |     SELECT tr.t AS et, sum((p${i - 1}.v * tr.n) // tt.tot) AS v
         |     FROM tr JOIN tt USING (f) JOIN p${i - 1} ON p${i - 1}.et = tr.f
         |     GROUP BY 1) s USING (et))""".stripMargin
    }.mkString(",\n ")
    s"""WITH e AS (SELECT user_id AS u, event_type AS et, epoch_ms(ts) AS tm,
       |     event_id AS tie FROM events),
       | p AS (SELECT et, lead(et) OVER (PARTITION BY u ORDER BY tm, tie)
       |     AS nx FROM e),
       | tr AS (SELECT et AS f, nx AS t, count(*)::BIGINT AS n FROM p
       |   WHERE nx IS NOT NULL GROUP BY 1, 2),
       | tt AS (SELECT f, sum(n)::BIGINT AS tot FROM tr GROUP BY f),
       | ty AS (SELECT DISTINCT et FROM (SELECT f AS et FROM tr
       |   UNION ALL SELECT t FROM tr)),
       | kk AS (SELECT count(*)::HUGEINT AS k FROM ty),
       | p0 AS (SELECT et, 1048576::HUGEINT // kk.k AS v FROM ty, kk),
       | $steps
       | SELECT et AS event_type,
       |   CAST(v * 1000000 // 1048576 AS BIGINT) AS pi_x1e6
       | FROM p$iters ORDER BY et""".stripMargin
  }

  private def trianglesOracleSql(modSql: String = "100",
      u0: String = PlainU0, v1: String = PlainV1): String =
    s"""WITH nv AS MATERIALIZED (SELECT $modSql AS m),
      | e AS (SELECT DISTINCT least(u0, v0) AS u, greatest(u0, v0) AS v
      |   FROM (SELECT $u0 AS u0, $v1 AS v0 FROM documents, nv)
      |   WHERE u0 <> v0)
      | SELECT
      |   (SELECT count(DISTINCT x) FROM
      |     (SELECT u AS x FROM e UNION ALL SELECT v FROM e)) AS n_vertices,
      |   (SELECT count(*) FROM e) AS n_edges,
      |   (SELECT count(*) FROM e a
      |     JOIN e b ON a.v = b.u
      |     JOIN e c ON c.u = a.u AND c.v = b.v) AS n_triangles""".stripMargin

  /** Weighted-PageRank oracle: the [[pageRankOracleSql]] unroll with the
    * weighted send — per edge ⌊r·w / Σw(src)⌋ in HUGEINT (the engine
    * lifts the same product to DECIMAL(38,0)); weights derive
    * deterministically from the endpoints on both sides.
    */
  private def weightedPageRankOracleSql(iters: Int,
      modSql: String, u0: String, v1: String): String = {
    val base = 1L << 20
    val tele = (3L * base) / 20L
    def iter(t: Int): String =
      s""" m$t AS (SELECT e.dst AS id,
         |     CAST(sum(r${t - 1}.r::HUGEINT * e.w // od.od) AS BIGINT) AS m
         |   FROM e JOIN od USING (src) JOIN r${t - 1} ON r${t - 1}.id = e.src
         |   GROUP BY e.dst),
         | r$t AS (SELECT n.id, $tele + (17 * coalesce(m.m, 0)) // 20 AS r
         |   FROM nodes n LEFT JOIN m$t m USING (id)),""".stripMargin
    s"""WITH nv AS MATERIALIZED (SELECT $modSql AS m),
       | e AS (SELECT src, dst, (src + dst) % 5 + 1 AS w FROM (
       |     SELECT DISTINCT src, dst FROM
       |       (SELECT $u0 AS src, $v1 AS dst FROM documents, nv)
       |     WHERE src <> dst)),
       | nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       | od AS (SELECT src, sum(w)::BIGINT AS od FROM e GROUP BY src),
       | r0 AS (SELECT id, CAST($base AS BIGINT) AS r FROM nodes),
       |${(1 to iters).map(iter).mkString("\n")}
       | fin AS (SELECT id, r FROM r$iters)
       | SELECT id, r AS rank FROM fin ORDER BY id""".stripMargin
  }

  /** SCC oracle by path doubling: r_k holds every (u, v) with a directed
    * path of length ≤ 2^k, so `doublings` rounds cover diameter
    * 2^doublings; mutual pairs (u→*v ∧ v→*u) are symmetric by
    * construction, and each node's component is the min over itself and
    * its mutual partners — definitionally the min SCC id, independent of
    * the engine's phase schedule. |V|² worst-case pair mass is fine at
    * oracle scale (the growing fixture's V).
    */
  private def sccOracleSql(doublings: Int,
      modSql: String, u0: String, v1: String): String = {
    val steps = (1 to doublings).map { k =>
      s""",
         | r$k AS MATERIALIZED (SELECT DISTINCT u, v FROM (
         |   SELECT u, v FROM r${k - 1}
         |   UNION ALL
         |   SELECT a.u, b.v FROM r${k - 1} a JOIN r${k - 1} b
         |     ON a.v = b.u))""".stripMargin
    }.mkString
    s"""WITH nv AS MATERIALIZED (SELECT $modSql AS m),
       | r0 AS MATERIALIZED (SELECT DISTINCT u0 AS u, v0 AS v
       |   FROM (SELECT $u0 AS u0, $v1 AS v0 FROM documents, nv)
       |   WHERE u0 <> v0)$steps,
       | mutual AS (SELECT a.u, a.v FROM r$doublings a
       |   JOIN r$doublings b ON a.u = b.v AND a.v = b.u),
       | n AS (SELECT DISTINCT u AS id FROM r0
       |   UNION SELECT DISTINCT v FROM r0)
       | SELECT n.id, least(n.id, coalesce(min(m.v), n.id)) AS component
       | FROM n LEFT JOIN mutual m ON m.u = n.id
       | GROUP BY n.id ORDER BY n.id""".stripMargin
  }

  /** Unrolled random-walk oracle: ranked symmetrized adjacency + degree
    * table, then `walkLen` chained steps — each joins the previous front
    * to the adjacency at rank md5("start-walk-step-salt")[13 hex] mod
    * degree, the engine's draw verbatim (the q_feature_hash '0x'-cast
    * convention).
    */
  private def randomWalksCtesSql(walksPerNode: Int, walkLen: Int,
      salt: String, modSql: String, u0: String, v1: String): String = {
    val steps = (1 to walkLen).map { t =>
      s""",
         | w$t AS MATERIALIZED (
         |   SELECT w.start, w.walk, rk.ru AS cur
         |   FROM w${t - 1} w
         |   JOIN dg ON dg.dv = w.cur
         |   JOIN rk ON rk.rv = w.cur AND rk.rk =
         |     CAST(('0x' || substr(md5(w.start || '-' || w.walk ||
         |       '-' || $t || '-$salt'), 1, 13)) AS BIGINT) % dg.deg)"""
        .stripMargin
    }.mkString
    val unions = (0 to walkLen).map { t =>
      s"SELECT start, walk, CAST($t AS BIGINT) AS step, cur AS node FROM w$t"
    }.mkString("\nUNION ALL\n")
    s"""WITH nv AS MATERIALIZED (SELECT $modSql AS m),
       | e AS MATERIALIZED (SELECT DISTINCT v, u FROM (
       |   SELECT u0 AS v, v0 AS u
       |     FROM (SELECT $u0 AS u0, $v1 AS v0 FROM documents, nv)
       |     WHERE u0 <> v0
       |   UNION ALL
       |   SELECT v0, u0
       |     FROM (SELECT $u0 AS u0, $v1 AS v0 FROM documents, nv)
       |     WHERE u0 <> v0)),
       | rk AS MATERIALIZED (SELECT v AS rv, u AS ru,
       |     row_number() OVER (PARTITION BY v ORDER BY u) - 1 AS rk
       |   FROM e),
       | dg AS MATERIALIZED (SELECT v AS dv, count(*)::BIGINT AS deg
       |   FROM e GROUP BY 1),
       | w0 AS MATERIALIZED (SELECT id AS start, r AS walk, id AS cur
       |   FROM (SELECT DISTINCT v AS id FROM e),
       |     (SELECT unnest(generate_series(0,
       |       ${walksPerNode - 1})) AS r))$steps,
       | wk AS MATERIALIZED (
       |   SELECT start, CAST(walk AS BIGINT) AS walk, step, node FROM (
       |     $unions))""".stripMargin
  }

  private def randomWalksOracleSql(walksPerNode: Int, walkLen: Int,
      salt: String, modSql: String, u0: String, v1: String): String =
    s"""${randomWalksCtesSql(walksPerNode, walkLen, salt, modSql, u0, v1)}
       | SELECT start, walk, step, node FROM wk
       | ORDER BY start, walk, step""".stripMargin

  /** Walk-PMI oracle: the walk chain, the windowed position self-join,
    * three counts, and the pmiCollocations ln convention.
    */
  private def walkCooccurrenceOracleSql(walksPerNode: Int, walkLen: Int,
      window: Int, minCount: Long, topK: Int, salt: String,
      modSql: String, u0: String, v1: String): String =
    s"""${randomWalksCtesSql(walksPerNode, walkLen, salt, modSql, u0, v1)},
       | p AS MATERIALIZED (SELECT a.node AS a, b.node AS b
       |   FROM wk a JOIN wk b ON a.start = b.start AND a.walk = b.walk
       |     AND b.step > a.step AND b.step <= a.step + $window),
       | nn AS (SELECT count(*)::BIGINT AS n FROM p),
       | c AS (SELECT a, b, count(*)::BIGINT AS n_ab FROM p GROUP BY 1, 2),
       | l AS (SELECT a, count(*)::BIGINT AS la FROM p GROUP BY 1),
       | r AS (SELECT b, count(*)::BIGINT AS rb FROM p GROUP BY 1)
       | SELECT a, b, n_ab,
       |   CAST(round(1000000 * ln((n_ab::DOUBLE * nn.n)
       |     / (la::DOUBLE * rb))) AS BIGINT) AS pmi_ppm
       | FROM c JOIN l USING (a) JOIN r USING (b), nn
       | WHERE n_ab >= $minCount
       | ORDER BY pmi_ppm DESC, a, b LIMIT $topK""".stripMargin

  /** Unrolled multi-source BFS oracle: the symmetrized edge table, seeds
    * restricted to graph nodes as round 0, then `hops` guarded frontier
    * rounds — each joins the PREVIOUS round's additions (dist = i−1) to
    * the adjacency, takes min(seed) per new node, and excludes anything
    * already settled. Rounds past frontier exhaustion add zero rows on
    * both sides, so equality holds for any true eccentricity ≤ hops.
    * AS MATERIALIZED is load-bearing (each d_i is referenced twice).
    */
  private def bfsOracleSql(hops: Int, seeds: Seq[Long],
      modSql: String, u0: String, v1: String): String = {
    val base =
      s"""WITH nv AS MATERIALIZED (SELECT $modSql AS m),
        | e AS MATERIALIZED (SELECT DISTINCT u, v FROM (
        |   SELECT u0 AS u, v0 AS v
        |     FROM (SELECT $u0 AS u0, $v1 AS v0 FROM documents, nv)
        |     WHERE u0 <> v0
        |   UNION ALL
        |   SELECT v0, u0
        |     FROM (SELECT $u0 AS u0, $v1 AS v0 FROM documents, nv)
        |     WHERE u0 <> v0)),
        | d0 AS MATERIALIZED (
        |   SELECT DISTINCT u AS id, CAST(0 AS BIGINT) AS dist, u AS seed
        |   FROM e WHERE u IN (${seeds.mkString(", ")}))""".stripMargin
    val steps = (1 to hops).map { i =>
      s""",
         | d$i AS MATERIALIZED (
         |   SELECT * FROM d${i - 1}
         |   UNION ALL
         |   SELECT e.u AS id, CAST($i AS BIGINT) AS dist, min(d.seed) AS seed
         |   FROM e JOIN d${i - 1} d ON e.v = d.id AND d.dist = ${i - 1}
         |   WHERE e.u NOT IN (SELECT id FROM d${i - 1})
         |   GROUP BY e.u)""".stripMargin
    }.mkString
    base + steps +
      s"""
         | SELECT id, dist, seed FROM d$hops ORDER BY id""".stripMargin
  }

  private def kCoreOracleSql(k: Int, rounds: Int,
      modSql: String = "100", u0: String = PlainU0,
      v1: String = PlainV1, v2: String = PlainV2): String = {
    // AS MATERIALIZED is load-bearing: each round is referenced three
    // times (twice in the degree union, once in the next edge filter), so
    // default CTE inlining re-expands the whole chain 3^rounds times —
    // thousands of parquet opens for an 8-round unroll.
    val base =
      s"""WITH nv AS MATERIALIZED (SELECT $modSql AS m),
        | e0 AS MATERIALIZED (
        |   SELECT DISTINCT least(u0, v0) AS u, greatest(u0, v0) AS v
        |   FROM (SELECT $u0 AS u0, $v1 AS v0
        |       FROM documents, nv
        |     UNION ALL
        |     SELECT $u0, $v2
        |       FROM documents, nv)
        |   WHERE u0 <> v0)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s""",
         | k$i AS MATERIALIZED (SELECT x FROM (SELECT u AS x FROM e${i - 1}
         |     UNION ALL SELECT v FROM e${i - 1})
         |   GROUP BY x HAVING count(*) >= $k),
         | e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
         |   JOIN k$i a ON e.u = a.x JOIN k$i b ON e.v = b.x)""".stripMargin
    }.mkString
    base + steps +
      s"""
         | SELECT x AS vertex, count(*) AS degree
         | FROM (SELECT u AS x FROM e$rounds UNION ALL SELECT v FROM e$rounds)
         | GROUP BY x ORDER BY vertex""".stripMargin
  }

  /** `q_matryoshka_recall`'s full value replay: md5-48 sample election,
    * exact f64 cosine rankings at the full dim and at each truncation
    * prefix (both engines upcast float→double and fold sequentially, so
    * the doubles are bit-identical — verified), per-query hit counts,
    * integer-ppm recall. One pairs CTE carries every prefix's partial
    * sums; dims ≥ the 64 full dim collapse into the full row like the
    * engine's `dims.filter(_ < fullDim) :+ fullDim`.
    */
  private def matryoshkaOracleSql(dims: Seq[Int], k: Int, sample: Int,
      seed: Long): String = {
    def fold(a: String, b: String, d: Int): String =
      s"""list_sum(list_transform(range(1, ${d + 1}),
         |       i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"""
        .stripMargin
    def cosCols(tag: String, d: Int): String =
      s"""${fold("q.qe", "e.embedding", d)} AS dot_$tag,
         |     ${fold("q.qe", "q.qe", d)} AS ns_$tag,
         |     ${fold("e.embedding", "e.embedding", d)} AS nc_$tag"""
        .stripMargin
    val full = 64
    val sub = dims.filter(_ < full).distinct.sorted
    val allTags = sub.map(d => s"d$d" -> d) :+ ("full" -> full)
    val pairCols = allTags.map { case (t, d) => cosCols(t, d) }
      .mkString(",\n     ")
    def rank(t: String): String =
      s"""(SELECT qid, nid FROM (SELECT qid, nid, row_number() OVER (
         |     PARTITION BY qid ORDER BY (CASE WHEN ns_$t = 0 OR nc_$t = 0
         |       THEN 0.0 ELSE dot_$t / sqrt(ns_$t * nc_$t) END) DESC, nid)
         |     AS rn FROM pairs) WHERE rn <= $k)""".stripMargin
    val perDim = allTags.map { case (t, d) =>
      s"""SELECT $d AS dim, count(*)::BIGINT AS nq,
         |   CAST((sum(hits) * 1000000) // (count(*) * $k) AS BIGINT)
         |     AS mean_ppm,
         |   CAST(min((hits * 1000000) // $k) AS BIGINT) AS min_ppm
         | FROM (SELECT f.qid, count(t.nid)::BIGINT AS hits
         |   FROM full5 f LEFT JOIN ${rank(t)} t
         |     ON t.qid = f.qid AND t.nid = f.nid GROUP BY f.qid)"""
        .stripMargin
    }.mkString("\n UNION ALL\n")
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM (
       |     SELECT vec_id, embedding, row_number() OVER (ORDER BY
       |       CAST(('0x' || substr(md5(vec_id::VARCHAR || '-$seed'), 1, 12))
       |         AS BIGINT), vec_id) AS rn
       |     FROM embeddings) WHERE rn <= $sample),
       | pairs AS (SELECT q.qid, e.vec_id AS nid,
       |     $pairCols
       |   FROM q JOIN embeddings e ON e.vec_id <> q.qid),
       | full5 AS ${rank("full")}
       | SELECT CAST(dim AS INT) AS dim, nq AS n_queries,
       |   CAST($k AS BIGINT) AS k, mean_ppm AS mean_recall_ppm,
       |   min_ppm AS min_recall_ppm
       | FROM ($perDim) ORDER BY dim""".stripMargin
  }

  /** Unrolled k-truss oracle: same synthesized graph as
    * [[kCoreOracleSql]]; each round recounts per-edge triangle support
    * via the id-ordered canonical 3-way join (orientation-invariant, so
    * it equals the engine's degree-oriented count) and keeps edges with
    * support ≥ k−2; the final SELECT re-derives the fixpoint support.
    * AS MATERIALIZED is load-bearing (each round referenced 4×).
    */
  private def kTrussOracleSql(k: Int, rounds: Int,
      modSql: String = "100", u0: String = PlainU0,
      v1: String = PlainV1, v2: String = PlainV2): String = {
    val base =
      s"""WITH nv AS MATERIALIZED (SELECT $modSql AS m),
        | e0 AS MATERIALIZED (
        |   SELECT DISTINCT least(u0, v0) AS u, greatest(u0, v0) AS v
        |   FROM (SELECT $u0 AS u0, $v1 AS v0
        |       FROM documents, nv
        |     UNION ALL
        |     SELECT $u0, $v2
        |       FROM documents, nv)
        |   WHERE u0 <> v0)""".stripMargin
    def supBlock(i: Int, src: String): String =
      s""" t$i AS MATERIALIZED (SELECT a.u AS x, a.v AS y, b.v AS z
         |   FROM $src a JOIN $src b ON b.u = a.v
         |   JOIN $src c ON c.u = a.u AND c.v = b.v),
         | s$i AS MATERIALIZED (SELECT u, v, count(*) AS sup FROM (
         |     SELECT x AS u, y AS v FROM t$i
         |     UNION ALL SELECT y, z FROM t$i
         |     UNION ALL SELECT x, z FROM t$i)
         |   GROUP BY u, v)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s""",
         |${supBlock(i, s"e${i - 1}")},
         | e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
         |   JOIN s$i s ON s.u = e.u AND s.v = e.v
         |   WHERE s.sup >= ${k - 2})""".stripMargin
    }.mkString
    base + steps +
      s""",
         |${supBlock(rounds + 1, s"e$rounds")}
         | SELECT e.u, e.v, coalesce(s.sup, 0) AS support
         | FROM e$rounds e LEFT JOIN s${rounds + 1} s
         |   ON s.u = e.u AND s.v = e.v
         | ORDER BY e.u, e.v""".stripMargin
  }

  /** Unrolled deterministic-LPA oracle: same synthesized graph as
    * [[kCoreOracleSql]]; each round recounts neighbor labels and picks
    * (max count, then min label) via a window + min — the replayable
    * form of the engine's max(struct(cnt, −label)) aggregate. AS
    * MATERIALIZED is load-bearing (each round is referenced twice).
    */
  private def labelPropOracleSql(rounds: Int,
      modSql: String = "100", u0: String = PlainU0,
      v1: String = PlainV1, v2: String = PlainV2): String =
    lpaCtesSql(rounds, modSql, u0, v1, v2) +
      s"""
         | SELECT x AS vertex, lab AS label FROM l$rounds
         | ORDER BY vertex""".stripMargin

  /** Shared LPA-unroll CTE chain (e0, l0 … l`rounds`) behind
    * [[labelPropOracleSql]] and [[modularityOracleSql]].
    */
  private def lpaCtesSql(rounds: Int,
      modSql: String, u0: String, v1: String, v2: String): String = {
    val base =
      s"""WITH nv AS MATERIALIZED (SELECT $modSql AS m),
        | e0 AS MATERIALIZED (
        |   SELECT DISTINCT least(u0, v0) AS u, greatest(u0, v0) AS v
        |   FROM (SELECT $u0 AS u0, $v1 AS v0
        |       FROM documents, nv
        |     UNION ALL
        |     SELECT $u0, $v2
        |       FROM documents, nv)
        |   WHERE u0 <> v0),
        | l0 AS MATERIALIZED (SELECT DISTINCT x, x AS lab
        |   FROM (SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0))""".stripMargin
    val steps = (1 to rounds).map { i =>
      s""",
         | c$i AS MATERIALIZED (SELECT x, lab, count(*) AS cnt FROM (
         |     SELECT e.u AS x, l.lab FROM e0 e JOIN l${i - 1} l ON e.v = l.x
         |     UNION ALL
         |     SELECT e.v AS x, l.lab FROM e0 e JOIN l${i - 1} l ON e.u = l.x)
         |   GROUP BY x, lab),
         | l$i AS MATERIALIZED (SELECT x, min(lab) AS lab FROM (
         |     SELECT x, lab, cnt, max(cnt) OVER (PARTITION BY x) AS mc
         |     FROM c$i)
         |   WHERE cnt = mc GROUP BY x)""".stripMargin
    }.mkString
    base + steps
  }

  /** Oracle for [[graft.ops.Graph.modularity]] over
    * [[graft.ops.Graph.labelPropagation]] labels: the full LPA unroll
    * ([[lpaCtesSql]]), then the exact per-community degree/intra algebra —
    * d_c from the labeled edge-endpoint census, Q as the sign-factored
    * integer ⌊10⁶·|4m·Σe_c − Σd_c²|⌋ // 4m² in HUGEINT (the engine runs
    * the identical algebra in DECIMAL(38,0); numerator abs ≥ 0 so floor
    * `//` and truncating DIV agree).
    */
  private def modularityOracleSql(rounds: Int,
      modSql: String, u0: String, v1: String, v2: String): String =
    lpaCtesSql(rounds, modSql, u0, v1, v2) +
      s""",
         | le AS MATERIALIZED (SELECT e.u, e.v, lu.lab AS lu, lv.lab AS lv
         |   FROM e0 e JOIN l$rounds lu ON lu.x = e.u
         |   JOIN l$rounds lv ON lv.x = e.v),
         | dm AS (SELECT lab, count(*) AS d FROM (
         |     SELECT lu AS lab FROM le UNION ALL SELECT lv FROM le)
         |   GROUP BY lab),
         | pc AS (SELECT count(*) AS n_communities,
         |     coalesce(sum(d::HUGEINT * d), 0) AS dd FROM dm),
         | tt AS (SELECT count(*) AS n_edges,
         |     coalesce(sum(CASE WHEN lu = lv THEN 1 ELSE 0 END), 0)
         |       AS intra FROM le),
         | nvert AS (SELECT count(*) AS n_vertices FROM l$rounds
         |   WHERE x IN (SELECT u FROM e0 UNION SELECT v FROM e0))
         | SELECT CAST(nvert.n_vertices AS BIGINT) AS n_vertices,
         |   CAST(tt.n_edges AS BIGINT) AS n_edges,
         |   CAST(pc.n_communities AS BIGINT) AS n_communities,
         |   CAST(tt.intra AS BIGINT) AS intra_edges,
         |   CAST(CASE WHEN tt.n_edges = 0 THEN 0 ELSE
         |     (CASE WHEN 4::HUGEINT * tt.n_edges * tt.intra >= pc.dd
         |           THEN 1 ELSE -1 END) *
         |     ((abs(4::HUGEINT * tt.n_edges * tt.intra - pc.dd) * 1000000)
         |       // (4::HUGEINT * tt.n_edges * tt.n_edges)) END AS BIGINT)
         |     AS q_ppm
         | FROM nvert, tt, pc""".stripMargin

  private def hilbertOracleSql(maxBits: Int, bucketBits: Int): String = {
    val steps = (0 until maxBits).map { i =>
      s""" r$i AS (SELECT a, b, x, y, d, bits,
         |     CASE WHEN $i < bits THEN 1::BIGINT << (bits - 1 - $i)
         |          ELSE 0 END AS s
         |   FROM h$i),
         | g$i AS (SELECT a, b, x, y, d, bits, s,
         |     CASE WHEN s > 0 AND (x & s) > 0 THEN 1 ELSE 0 END AS rx,
         |     CASE WHEN s > 0 AND (y & s) > 0 THEN 1 ELSE 0 END AS ry
         |   FROM r$i),
         | h${i + 1} AS (SELECT a, b,
         |     CASE WHEN s = 0 THEN x
         |          WHEN ry = 0 THEN CASE WHEN rx = 1
         |            THEN (1::BIGINT << bits) - 1 - y ELSE y END
         |          ELSE x END AS x,
         |     CASE WHEN s = 0 THEN y
         |          WHEN ry = 0 THEN CASE WHEN rx = 1
         |            THEN (1::BIGINT << bits) - 1 - x ELSE x END
         |          ELSE y END AS y,
         |     d + s * s * xor(3 * rx, ry) AS d, bits
         |   FROM g$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH mx AS (SELECT max(greatest(CAST(l_orderkey AS BIGINT),
       |     CAST(l_partkey AS BIGINT))) AS mx FROM lineitem),
       | m AS (SELECT CAST(coalesce(list_min(list_filter(range(8, $maxBits),
       |     k -> mx < (1::BIGINT << k))), $maxBits) AS INT) AS bits FROM mx),
       | h0 AS (SELECT CAST(l_orderkey AS BIGINT) AS a,
       |     CAST(l_partkey AS BIGINT) AS b,
       |     CAST(l_orderkey AS BIGINT) & ((1::BIGINT << m.bits) - 1) AS x,
       |     CAST(l_partkey AS BIGINT) & ((1::BIGINT << m.bits) - 1) AS y,
       |     CAST(0 AS BIGINT) AS d, m.bits AS bits
       |   FROM lineitem, m),
       |$steps
       | SELECT d >> (2 * bits - $bucketBits) AS bucket, count(*) AS n,
       |   min(a) AS min_a, max(a) AS max_a,
       |   min(b) AS min_b, max(b) AS max_b
       | FROM h$maxBits GROUP BY 1, bits ORDER BY bucket""".stripMargin
  }

  /** Piece vocabulary for the q_wordpiece MaxMatch demo: every lowercase
    * letter (the coverage fallback) plus common English/word-shape pieces.
    */
  private val WordPieceVocab: Seq[String] =
    ('a' to 'z').map(_.toString) ++ Seq(
      "the", "er", "in", "re", "on", "at", "an", "or", "te", "al", "ing",
      "ion", "row", "scan", "group", "merge", "value", "column", "hash",
      "join", "key", "sort", "filter", "spark", "batch", "stream",
      "vector", "custom", "line", "part")

  /** MaxMatch unrolled: step t computes the longest vocabulary piece
    * prefixing the remaining string (`ORDER BY len(p) DESC LIMIT 1` — two
    * equal-length distinct pieces cannot both prefix one string, so the
    * pick is unique), strips it (or one char + [UNK] when none matches),
    * and appends to the piece list — the exact greedy rule of
    * [[graft.functions.MaxMatchOps]] with the same 24-step cap.
    */
  private def wordPieceOracleSql(steps: Int): String = {
    val vocabSql = WordPieceVocab.map("'" + _ + "'").mkString(", ")
    val blocks = (1 to steps).map { t =>
      s""" b$t AS (SELECT word, rem, ps,
         |     (SELECT p FROM v WHERE starts_with(s${t - 1}.rem, p)
         |      ORDER BY len(p) DESC, p LIMIT 1) AS b
         |   FROM s${t - 1}),
         | s$t AS (SELECT word,
         |     CASE WHEN rem = '' THEN rem
         |          WHEN b IS NULL THEN substr(rem, 2)
         |          ELSE substr(rem, len(b) + 1) END AS rem,
         |     CASE WHEN rem = '' THEN ps
         |          WHEN b IS NULL THEN list_append(ps, '[UNK]')
         |          ELSE list_append(ps, b) END AS ps
         |   FROM b$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH w AS (SELECT DISTINCT unnest($tokensSql) AS word FROM documents),
       | v AS (SELECT unnest([$vocabSql]) AS p),
       | s0 AS (SELECT word, word AS rem, CAST([] AS VARCHAR[]) AS ps FROM w),
       |$blocks
       | SELECT word, array_to_string(ps, ' ') AS pieces,
       |   CAST(len(ps) AS BIGINT) AS n_pieces,
       |   CAST(len(list_filter(ps, x -> x = '[UNK]')) AS BIGINT) AS n_unk
       | FROM s$steps ORDER BY word""".stripMargin
  }

  /** MMR unrolled (λ = 0.5): relevance r is the rounded cosine to vec 0's
    * embedding; m_i is each point's running max rounded cosine to picks
    * 0..i; c_{i+1} maximizes (0.5·r − 0.5·m) with ties to the lower id —
    * the exact floating-point policy of [[graft.ops.Similarity.mmrSelect]].
    */
  private def mmrOracleSql(k: Int): String = {
    val steps = (1 until k).map { i =>
      val excl = (0 until i).map(j => s"SELECT vec_id FROM c$j").mkString(" UNION ALL ")
      val p = s"m${i - 1}"
      s""" c$i AS MATERIALIZED (SELECT vec_id, e, r, m FROM $p
         |   WHERE vec_id NOT IN ($excl)
         |   ORDER BY (0.5*r - 0.5*m) DESC, vec_id LIMIT 1),
         | m$i AS MATERIALIZED (SELECT $p.vec_id, $p.e, $p.r,
         |     greatest($p.m, round(list_cosine_similarity($p.e, c$i.e), 6)) AS m
         |   FROM $p, c$i)""".stripMargin
    }.mkString(",\n")
    val finals = (s"""SELECT 0 AS "rank", vec_id, r AS rel, CAST(NULL AS DOUBLE) AS max_sim FROM c0""" +:
      (1 until k).map(i => s"""SELECT $i, vec_id, r, m FROM c$i"""))
      .mkString("\n UNION ALL ")
    // MATERIALIZED for the same reason as kCenterOracleSql: each m$i is
    // referenced twice downstream and plain-CTE inlining is exponential.
    s"""WITH v AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |     FROM embeddings WHERE embedding IS NOT NULL),
       | qv AS (SELECT e FROM v WHERE vec_id = 0),
       | rl AS MATERIALIZED (SELECT v.vec_id, v.e,
       |     round(list_cosine_similarity(v.e, qv.e), 6) AS r FROM v, qv),
       | c0 AS MATERIALIZED (SELECT vec_id, e, r FROM rl ORDER BY r DESC, vec_id LIMIT 1),
       | m0 AS MATERIALIZED (SELECT rl.vec_id, rl.e, rl.r,
       |     round(list_cosine_similarity(rl.e, c0.e), 6) AS m FROM rl, c0),
       |$steps
       |$finals
       |ORDER BY "rank"""".stripMargin
  }

  /** DuckDB CTE body replaying [[graft.ops.Dedup.cdcChunks]] (k = 3,
    * modulus = 8) over docsWithDupes: md5-gated cut points (1-based gram
    * end j cuts unless it is the last token), 0-based chunk starts
    * [0] ++ cuts, chunk-content md5 occurrence counts. Ends with `tk`
    * (doc_id, t) and `withc` (doc_id, start_tok, n_tokens,
    * n_occurrences).
    */
  private val cdcChunksCteSql: String =
    s"""tk AS (SELECT doc_id, $tokensSql AS t FROM $docsWithDupesSql),
       | cu AS (SELECT doc_id, t,
       |     list_filter(range(3, len(t) + 1), j -> j < len(t)
       |       AND CAST(('0x' || substr(md5(
       |           array_to_string(t[j - 2 : j], ' ')), 1, 13)) AS BIGINT)
       |         % 8 = 0) AS cj
       |   FROM tk WHERE len(t) > 0),
       | st AS (SELECT doc_id, t, list_prepend(0, cj) AS s0 FROM cu),
       | ch AS (SELECT doc_id, t, s0,
       |     list_concat(s0[2:], [len(t)]) AS e0 FROM st),
       | flat AS (SELECT doc_id, unnest(s0) AS s, unnest(e0) AS e, t
       |   FROM ch),
       | wc0 AS (SELECT doc_id, s AS start_tok, e - s AS n_tokens,
       |     md5(array_to_string(t[s + 1 : e], ' ')) AS h FROM flat),
       | cnt AS (SELECT h, count(*) AS n_occurrences FROM wc0 GROUP BY h),
       | withc AS (SELECT doc_id, start_tok, n_tokens, n_occurrences
       |   FROM wc0 JOIN cnt USING (h))""".stripMargin

  /** Fixed-point linear-probe training unrolled (the
    * [[graft.ops.Curation.linearProbe]] policy): w1 comes from the
    * zero-weight gradient (r0 = y·2^20), then each iteration t adds a
    * predict (p{t}) / residual (r{t}) / gradient (g{t}) / update (w{t+1})
    * CTE block with the pmod-corrected exact floor division. The final
    * SELECT scores every document against w{iters}.
    */
  private def probeOracleSql(buckets: Int, iters: Int): String = {
    val blocks = (1 until iters).map { t =>
      s""" p$t AS (SELECT b.doc_id, min(b.y) AS y,
         |     CAST(sum(coalesce(w$t.w, 0)) AS BIGINT) AS p
         |   FROM b LEFT JOIN w$t USING (bk) GROUP BY b.doc_id),
         | r$t AS (SELECT doc_id, y * 1048576 - p AS r FROM p$t),
         | g$t AS (SELECT b.bk, CAST(sum(r$t.r) AS BIGINT) AS g
         |   FROM b JOIN r$t USING (doc_id) GROUP BY b.bk),
         | w${t + 1} AS (SELECT coalesce(w$t.bk, g$t.bk) AS bk,
         |     CAST(coalesce(w$t.w, 0) +
         |       (coalesce(g$t.g, 0) - ((coalesce(g$t.g, 0) % d) + d) % d)
         |       // d AS BIGINT) AS w
         |   FROM w$t FULL OUTER JOIN g$t ON w$t.bk = g$t.bk, dv)""".stripMargin
    }.mkString(",\n")
    s"""WITH tk AS (SELECT doc_id,
       |     CASE WHEN contains(text, 'spark') THEN 1 ELSE -1 END AS y,
       |     $tokensSql AS t FROM documents),
       | gr AS (SELECT doc_id, y, unnest(t) AS g FROM tk
       |   UNION ALL
       |   SELECT doc_id, y,
       |     unnest(list_transform(range(1, len(t)),
       |       i -> t[i] || ' ' || t[i + 1])) AS g
       |   FROM tk),
       | b AS (SELECT DISTINCT doc_id, y,
       |     CAST(('0x' || substr(md5(g), 1, 13)) AS BIGINT) % $buckets AS bk
       |   FROM gr),
       | dv AS (SELECT (SELECT count(*) FROM documents) * 64 AS d),
       | g0 AS (SELECT bk, CAST(sum(y * 1048576) AS BIGINT) AS g
       |   FROM b GROUP BY bk),
       | w1 AS (SELECT bk,
       |     CAST((g - ((g % d) + d) % d) // d AS BIGINT) AS w
       |   FROM g0, dv),
       |$blocks,
       | pf AS (SELECT b.doc_id,
       |     CAST(sum(coalesce(w$iters.w, 0)) AS BIGINT) AS p
       |   FROM b LEFT JOIN w$iters USING (bk) GROUP BY b.doc_id)
       | SELECT tk.doc_id, CAST(tk.y AS BIGINT) AS y,
       |   coalesce(pf.p, 0) AS score
       | FROM tk LEFT JOIN pf USING (doc_id) ORDER BY tk.doc_id""".stripMargin
  }

  /** DuckDB CTE body re-deriving the synthesized URLs of [[withUrls]] from
    * doc_id arithmetic and replaying [[graft.ops.Web.urlFacts]]'s
    * normalization policy (lowercase host, eTLD+1, trailing-slash strip,
    * tracking-param removal, fragment drop). Ends with a `facts` relation:
    * (doc_id, url, scheme, host, domain, path, depth, query, url_norm).
    */
  private val urlFactsCteSql: String =
    """up AS (SELECT doc_id,
      |   CASE WHEN doc_id % 4 = 0 THEN 'http' ELSE 'https' END AS scheme,
      |   (CASE doc_id % 3 WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.'
      |     ELSE '' END) ||
      |     'site' || CAST(doc_id % 37 AS VARCHAR) || '.' ||
      |     (['com','org','co.uk','io','com.au'])
      |          [CAST(doc_id % 5 AS INT) + 1] AS host,
      |   CASE WHEN doc_id % 7 = 0 THEN '/'
      |     ELSE '/p/' || CAST(doc_id % 97 AS VARCHAR) ||
      |       (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) END AS p,
      |   CASE WHEN doc_id % 6 = 0
      |       THEN 'utm_source=feed&id=' || CAST(doc_id % 13 AS VARCHAR)
      |     WHEN doc_id % 6 = 3 THEN 'ref=home'
      |     WHEN doc_id % 6 = 1
      |       THEN 'id=' || CAST(doc_id % 13 AS VARCHAR) || '&utm_campaign=x'
      |     ELSE '' END AS q,
      |   CASE WHEN doc_id % 8 = 0 THEN '#top' ELSE '' END AS frag
      | FROM documents),
      | uf AS (SELECT doc_id, scheme, host,
      |   scheme || '://' ||
      |     (CASE WHEN doc_id % 11 = 0 THEN upper(host) ELSE host END) ||
      |     p || (CASE WHEN q = '' THEN '' ELSE '?' || q END) || frag
      |     AS url,
      |   regexp_replace(p, '/$', '') AS path,
      |   coalesce(array_to_string(list_filter(string_split(q, '&'),
      |     x -> NOT (starts_with(x, 'utm_') OR x = 'fbclid'
      |       OR starts_with(x, 'fbclid=') OR x = 'gclid'
      |       OR starts_with(x, 'gclid=') OR x = 'ref'
      |       OR starts_with(x, 'ref='))), '&'), '') AS query,
      |   string_split(host, '.') AS ls
      | FROM up),
      | facts AS (SELECT doc_id, url, scheme, host,
      |   CASE WHEN len(ls) <= 2 THEN host
      |     WHEN ls[len(ls) - 1] || '.' || ls[len(ls)]
      |         IN ('co.uk','ac.uk','org.uk','co.jp','com.au')
      |       THEN ls[len(ls) - 2] || '.' || ls[len(ls) - 1] || '.' ||
      |         ls[len(ls)]
      |     ELSE ls[len(ls) - 1] || '.' || ls[len(ls)] END AS domain,
      |   path,
      |   len(list_filter(string_split(path, '/'), s -> s <> '')) AS depth,
      |   query,
      |   scheme || '://' || host || path ||
      |     (CASE WHEN query = '' THEN '' ELSE '?' || query END)
      |     AS url_norm
      | FROM uf)""".stripMargin

  /** Fixed-point Lloyd k-means unrolled: per iteration t, j{t} scores every
    * vector against every centroid in exact int64 (squared L2 on the
    * quantized coords), a{t} takes the (d, cid) argmin, m{t} computes
    * exact floor-division centroid means via the pmod-corrected numerator,
    * and c{t+1} keeps the previous centroid for empty clusters — the
    * identical integer policy of [[graft.ops.Similarity.kMeansQuantized]].
    */
  /** Integer fixed-point PageRank as `iters` unrolled CTE blocks — every
    * step is positive-int64 floor division and sums (see
    * [[graft.ops.Graph.pageRank]]'s policy), so DuckDB replays the exact
    * ranks. The edge generator mirrors q_pagerank's synthesized domain
    * graph.
    */
  /** KMV-intersection replay: min-k per source by md5 order statistics,
    * union min-k from the two sketch sets, integer estimators, and the
    * same 2^20-fixed-point tolerance constant the engine computes.
    */
  /** DuckDB replay of [[graft.ops.Sketches.kmvRollingDistinct]] over the
    * events stream (trailing `window`-day distinct users): per-day min-k
    * via row_number, window merge via a range join on observed days, the
    * same truncating integer estimate and fixed-point tolerance.
    */
  private def rollingDistinctOracleSql(window: Int, k: Int): String = {
    val space = 1L << 48
    val tolFp = math.floor(4.0 / math.sqrt((k - 2).toDouble) * (1L << 20)).toLong
    s"""WITH e AS (SELECT DISTINCT epoch_ms(ts) // 86400000 AS d,
       |     CAST(user_id AS VARCHAR) AS v FROM events
       |   WHERE user_id IS NOT NULL),
       | hs AS (SELECT DISTINCT d,
       |     CAST(('0x' || substr(md5(v), 1, 12)) AS BIGINT) AS h FROM e),
       | mk AS (SELECT d, h FROM (
       |     SELECT d, h, row_number() OVER (PARTITION BY d ORDER BY h) AS rn
       |     FROM hs) WHERE rn <= $k),
       | days AS (SELECT DISTINCT d AS w FROM e),
       | uh AS (SELECT DISTINCT days.w, mk.h FROM days JOIN mk
       |     ON mk.d BETWEEN days.w - ${window - 1} AND days.w),
       | um AS (SELECT w, h, row_number() OVER (PARTITION BY w ORDER BY h)
       |     AS rn FROM uh),
       | uk AS (SELECT w, count(*) AS n_kept, max(h) AS kth_hash
       |   FROM um WHERE rn <= $k GROUP BY w),
       | nd AS (SELECT days.w, count(DISTINCT hs.d) AS n_days FROM days
       |     JOIN hs ON hs.d BETWEEN days.w - ${window - 1} AND days.w
       |   GROUP BY days.w),
       | xa AS (SELECT days.w, count(DISTINCT e.v) AS n_exact FROM days
       |     JOIN e ON e.d BETWEEN days.w - ${window - 1} AND days.w
       |   GROUP BY days.w),
       | fin AS (SELECT uk.w, nd.n_days, xa.n_exact, uk.n_kept, uk.kth_hash,
       |     CASE WHEN uk.n_kept < $k THEN uk.n_kept
       |          ELSE (${(k - 1).toLong * space} // (uk.kth_hash + 1))
       |       END AS est
       |   FROM uk JOIN nd ON nd.w = uk.w JOIN xa ON xa.w = uk.w)
       | SELECT w AS window_end, CAST(n_days AS BIGINT) AS n_days,
       |   CAST(n_exact AS BIGINT) AS n_exact, CAST(n_kept AS INT) AS n_kept,
       |   kth_hash, CAST(est AS BIGINT) AS est,
       |   CAST(abs(est - n_exact)
       |     <= greatest(8, ($tolFp * n_exact) // ${1L << 20}) AS INT)
       |     AS est_ok
       | FROM fin ORDER BY window_end""".stripMargin
  }

  private def kmvIntersectOracleSql(k: Int): String = {
    val space = 1L << 48
    val tolFp = math.floor(4.0 / math.sqrt((k - 2).toDouble) * (1L << 20)).toLong
    s"""WITH tok AS (SELECT DISTINCT source AS key, unnest($tokensSql) AS w
       |     FROM documents),
       | hs AS (SELECT DISTINCT key,
       |     CAST(('0x' || substr(md5(w), 1, 12)) AS BIGINT) AS h FROM tok),
       | mk AS (SELECT key, h FROM (
       |     SELECT key, h, row_number() OVER (PARTITION BY key ORDER BY h)
       |       AS rn FROM hs) WHERE rn <= $k),
       | nd AS (SELECT key, count(*) AS n FROM tok GROUP BY key),
       | pr AS (SELECT a.key AS src_a, b.key AS src_b
       |   FROM nd a JOIN nd b ON a.key < b.key),
       | uh AS (SELECT pr.src_a, pr.src_b, m.h
       |     FROM pr JOIN mk m ON m.key = pr.src_a
       |   UNION
       |   SELECT pr.src_a, pr.src_b, m.h
       |     FROM pr JOIN mk m ON m.key = pr.src_b),
       | um AS (SELECT src_a, src_b, h, row_number() OVER (
       |     PARTITION BY src_a, src_b ORDER BY h) AS rn FROM uh),
       | uk AS (SELECT src_a, src_b, max(h) AS kth_hash, count(*) AS n_kept
       |   FROM um WHERE rn <= $k GROUP BY 1, 2),
       | ik AS (SELECT um.src_a, um.src_b, count(*) AS ik FROM um
       |     JOIN mk ma ON ma.key = um.src_a AND ma.h = um.h
       |     JOIN mk mb ON mb.key = um.src_b AND mb.h = um.h
       |   WHERE um.rn <= $k GROUP BY 1, 2),
       | xi AS (SELECT t1.key AS src_a, t2.key AS src_b, count(*) AS n_inter
       |   FROM tok t1 JOIN tok t2 ON t1.w = t2.w AND t1.key < t2.key
       |   GROUP BY 1, 2),
       | fin AS (SELECT pr.src_a, pr.src_b,
       |     coalesce(xi.n_inter, 0) AS n_inter_exact,
       |     na.n + nb.n - coalesce(xi.n_inter, 0) AS n_union_exact,
       |     uk.n_kept, uk.kth_hash,
       |     CASE WHEN uk.n_kept < $k THEN uk.n_kept
       |          ELSE (${(k - 1).toLong * space} // (uk.kth_hash + 1))
       |       END AS est_union,
       |     coalesce(ik.ik, 0) AS ik
       |   FROM pr JOIN nd na ON na.key = pr.src_a
       |     JOIN nd nb ON nb.key = pr.src_b
       |     JOIN uk ON uk.src_a = pr.src_a AND uk.src_b = pr.src_b
       |     LEFT JOIN ik ON ik.src_a = pr.src_a AND ik.src_b = pr.src_b
       |     LEFT JOIN xi ON xi.src_a = pr.src_a AND xi.src_b = pr.src_b)
       | SELECT src_a, src_b,
       |   CAST(n_inter_exact AS BIGINT) AS n_inter_exact,
       |   CAST(n_union_exact AS BIGINT) AS n_union_exact,
       |   CAST(n_kept AS INT) AS n_kept, kth_hash,
       |   CAST(est_union AS BIGINT) AS est_union,
       |   CAST(CASE WHEN n_kept < $k THEN ik
       |        ELSE (ik * est_union) // $k END AS BIGINT) AS est_inter,
       |   CAST(abs(CASE WHEN n_kept < $k THEN ik
       |         ELSE (ik * est_union) // $k END - n_inter_exact)
       |     <= greatest(8, ($tolFp * n_union_exact) // ${1L << 20})
       |     AS INT) AS est_ok
       | FROM fin ORDER BY src_a, src_b""".stripMargin
  }

  /** Wavefront-unrolled Gale–Church replay: cells on diagonal k = i + j
    * draw from diagonals k−1..k−4 (the six op arities); only COSTS are
    * replayed (pure min per cell — tie order is path-only), and the
    * final cell (n_a, n_b) is collected from whichever diagonal holds
    * it. Sentence lists, the B-side derivation, and the integer length
    * cost mirror the engine exactly.
    */
  /** DuckDB replay of [[graft.ops.TextSearch.dirichletQlTopK]]: identical
    * tokenization, the same all-integer rationals handed to ln, per-term
    * round(1e6·ln) integerization before the sum.
    */
  private def dirichletQlOracleSql(terms: Seq[String], k: Int, mu: Long): String = {
    val tfSel = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(t, x -> x = '${t.toLowerCase}')) AS tf_$i"
    }.mkString(", ")
    val cfSel = terms.indices.map(i => s"sum(tf_$i) AS cf_$i").mkString(", ")
    val contrib = terms.indices.map(i =>
      s"CAST(round(1000000 * ln((tf_$i * c_total + $mu * greatest(cf_$i, 1))::DOUBLE / ((dl + $mu) * c_total)::DOUBLE)) AS BIGINT)")
      .mkString("\n       |     + ")
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
       | d AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, $tfSel FROM tk),
       | s AS (SELECT CAST(sum(dl) AS BIGINT) AS c_total, $cfSel FROM d),
       | e AS (SELECT doc_id, dl,
       |     $contrib AS score_scaled
       |   FROM d, s)
       | SELECT doc_id, dl, score_scaled FROM e
       | ORDER BY score_scaled DESC, doc_id LIMIT $k""".stripMargin
  }

  /** DuckDB replay of [[graft.ops.Align.rougeLContamination]]: identical
    * trigram blocking (distinct grams, per-side hot cap), then the LCS DP
    * unrolled over anti-diagonals (cells on diagonal k = i + j derive from
    * k−1 by a right/down move and from k−2 by the match move; per-cell max
    * replaces [[sentenceAlignOracleSql]]'s min — same wavefront shape).
    */
  private def rougeOracleSql(shingleK: Int, cap: Long, maxT: Int): String = {
    def branches(k: Int): Seq[String] = {
      val step = Seq(
        s"""   SELECT p.a_id, p.b_id, p.i + 1 AS i, p.j, p.v
           |   FROM c${k - 1} p JOIN L USING (a_id, b_id)
           |   WHERE p.i + 1 <= len(la)""".stripMargin,
        s"""   SELECT p.a_id, p.b_id, p.i, p.j + 1 AS j, p.v
           |   FROM c${k - 1} p JOIN L USING (a_id, b_id)
           |   WHERE p.j + 1 <= len(lb)""".stripMargin)
      val diag =
        if (k < 2) Nil
        else Seq(
          s"""   SELECT p.a_id, p.b_id, p.i + 1 AS i, p.j + 1 AS j,
             |     p.v + CASE WHEN la[p.i + 1] = lb[p.j + 1]
             |       THEN 1 ELSE 0 END AS v
             |   FROM c${k - 2} p JOIN L USING (a_id, b_id)
             |   WHERE p.i + 1 <= len(la) AND p.j + 1 <= len(lb)""".stripMargin)
      step ++ diag
    }
    val diags = (1 to 2 * maxT).map { k =>
      s""" c$k AS MATERIALIZED (SELECT a_id, b_id, i, j, max(v) AS v FROM (
         |${branches(k).mkString("\n   UNION ALL\n")}
         | ) GROUP BY a_id, b_id, i, j)""".stripMargin
    }
    val finals = (0 to 2 * maxT).map(k =>
      s"SELECT a_id, b_id, v FROM c$k JOIN L USING (a_id, b_id) " +
        s"WHERE i = len(la) AND j = len(lb)")
    s"""WITH t AS (SELECT doc_id, (doc_id % 25 = 0) AS bench,
       |     $tokensSql AS t FROM documents),
       | sh AS (SELECT DISTINCT doc_id, bench, g FROM (
       |     SELECT doc_id, bench, unnest(
       |       CASE WHEN len(t) < $shingleK THEN [array_to_string(t, ' ')]
       |         ELSE [list_reduce(list_slice(t, i, i + ${shingleK - 1}),
       |           (x, y) -> x || ' ' || y)
       |           for i in range(1, len(t) - ${shingleK - 2})] END) AS g
       |     FROM t)),
       | hot AS (SELECT DISTINCT g FROM (
       |     SELECT g, bench, count(*) AS c FROM sh GROUP BY 1, 2)
       |   WHERE c > $cap),
       | ok AS (SELECT * FROM sh WHERE g NOT IN (SELECT g FROM hot)),
       | pr AS (SELECT DISTINCT a.doc_id AS a_id, b2.doc_id AS b_id
       |   FROM ok a JOIN ok b2 USING (g) WHERE NOT a.bench AND b2.bench),
       | L AS MATERIALIZED (SELECT pr.a_id, pr.b_id,
       |     list_slice(ta.t, 1, $maxT) AS la, list_slice(tb.t, 1, $maxT) AS lb
       |   FROM pr JOIN t ta ON ta.doc_id = pr.a_id
       |     JOIN t tb ON tb.doc_id = pr.b_id),
       | c0 AS (SELECT a_id, b_id, 0 AS i, 0 AS j, 0 AS v FROM L),
       |${diags.mkString(",\n")},
       | fin AS (${finals.mkString("\n   UNION ALL ")})
       | SELECT L.a_id, L.b_id, CAST(len(la) AS INT) AS n_a,
       |   CAST(len(lb) AS INT) AS n_b, CAST(fin.v AS BIGINT) AS lcs,
       |   CAST(CASE WHEN len(la) + len(lb) = 0 THEN 0
       |     ELSE (2 * fin.v * 1000000) // (len(la) + len(lb)) END AS BIGINT)
       |     AS rouge_l_ppm
       | FROM L JOIN fin USING (a_id, b_id)
       | ORDER BY a_id, b_id""".stripMargin
  }

  private def sentenceAlignOracleSql(maxS: Int): String = {
    val ops = Seq((1, 1, 0), (1, 0, 450), (0, 1, 450),
      (2, 1, 230), (1, 2, 230), (2, 2, 440))
    def seg(list: String, idx: String, d: Int): String = d match {
      case 0 => "0"
      case 1 => s"$list[p.$idx + 1]"
      case _ => s"($list[p.$idx + 1] + $list[p.$idx + 2])"
    }
    def branches(k: Int): Seq[String] = ops.flatMap { case (da, db, prior) =>
      val pk = k - (da + db)
      if (pk < 0) None
      else {
        val sa = seg("la", "i", da)
        val sb = seg("lb", "j", db)
        Some(
          s"""   SELECT p.doc_id, p.i + $da AS i, p.j + $db AS j,
             |     p.cost + $prior +
             |       (15 * ($sa - $sb) * ($sa - $sb)) // ($sa + $sb + 1)
             |       AS cost
             |   FROM c$pk p JOIN L USING (doc_id)
             |   WHERE p.i + $da <= len(la) AND p.j + $db <= len(lb)""".stripMargin)
      }
    }
    val sentsSql = """list_filter(list_transform(
      |       regexp_extract_all(text, '[^.!?]+[.!?]*'), x -> trim(x)),
      |       x -> x <> '')""".stripMargin
    val diags = (1 to 2 * maxS).map { k =>
      s""" c$k AS MATERIALIZED (SELECT doc_id, i, j, min(cost) AS cost FROM (
         |${branches(k).mkString("\n   UNION ALL\n")}
         | ) GROUP BY doc_id, i, j)""".stripMargin
    }
    val finals = (0 to 2 * maxS).map(k =>
      s"SELECT doc_id, cost FROM c$k JOIN L USING (doc_id) " +
        s"WHERE i = len(la) AND j = len(lb)")
    s"""WITH s0 AS (SELECT doc_id, $sentsSql AS sa FROM documents),
       | s1 AS (SELECT doc_id, sa,
       |     [sa[i] for i in range(1, len(sa)+1) if (i-1) % 5 <> 3] AS sb0
       |   FROM s0),
       | s2 AS (SELECT doc_id, sa,
       |     [CASE WHEN (i-1) % 2 = 0 THEN 'pad ' || sb0[i] ELSE sb0[i] END
       |      for i in range(1, len(sb0)+1)] AS sb
       |   FROM s1),
       | L AS MATERIALIZED (SELECT doc_id,
       |     list_transform(list_slice(sa, 1, $maxS),
       |       x -> CAST(length(x) AS BIGINT)) AS la,
       |     list_transform(list_slice(sb, 1, $maxS),
       |       x -> CAST(length(x) AS BIGINT)) AS lb
       |   FROM s2),
       | c0 AS (SELECT doc_id, 0 AS i, 0 AS j, CAST(0 AS BIGINT) AS cost
       |   FROM L),
       |${diags.mkString(",\n")},
       | fin AS (${finals.mkString("\n   UNION ALL ")})
       | SELECT L.doc_id, CAST(len(la) AS INT) AS n_a,
       |   CAST(len(lb) AS INT) AS n_b,
       |   CAST(fin.cost AS BIGINT) AS total_cost
       | FROM L JOIN fin USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** Unrolled PAV replay: each round merges the LEFTMOST adjacent
    * mean-violating block pair (cross-multiplied integer comparison —
    * ns·n < s·nn ⟺ next mean < mean); ≤ bins−1 rounds reach the unique
    * isotonic fit regardless of merge order. AS MATERIALIZED is
    * load-bearing (each round references its window CTE three times).
    */
  private def pavOracleSql(rounds: Int): String = {
    def round(t: Int): String =
      s""" w$t AS MATERIALIZED (SELECT bid, n, s,
         |     lead(bid) OVER (ORDER BY bid) AS nb,
         |     lead(n) OVER (ORDER BY bid) AS nn,
         |     lead(s) OVER (ORDER BY bid) AS ns
         |   FROM b${t - 1}),
         | v$t AS MATERIALIZED (SELECT min(bid) AS vb FROM w$t
         |   WHERE nb IS NOT NULL AND ns * n < s * nn),
         | b$t AS MATERIALIZED (SELECT w.bid,
         |     w.n + coalesce(CASE WHEN w.bid = v.vb THEN w.nn END, 0) AS n,
         |     w.s + coalesce(CASE WHEN w.bid = v.vb THEN w.ns END, 0) AS s
         |   FROM w$t w, v$t v
         |   WHERE v.vb IS NULL
         |     OR w.bid <> (SELECT x.nb FROM w$t x WHERE x.bid = v.vb)),""".stripMargin
    s"""WITH d AS (SELECT doc_id % 8 AS bin,
       |     CASE WHEN (doc_id * 37) % 100 < CASE CAST(doc_id % 8 AS INT)
       |       WHEN 0 THEN 10 WHEN 1 THEN 40 WHEN 2 THEN 30 WHEN 3 THEN 35
       |       WHEN 4 THEN 80 WHEN 5 THEN 70 WHEN 6 THEN 75 ELSE 90 END
       |     THEN 1 ELSE 0 END AS y
       |   FROM documents),
       | a AS MATERIALIZED (SELECT bin, count(*) AS n, sum(y) AS s
       |   FROM d GROUP BY bin),
       | b0 AS (SELECT bin AS bid, n, s FROM a),
       |${(1 to rounds).map(round).mkString("\n")}
       | fin AS (SELECT a.bin, a.n, a.s,
       |     (SELECT max(bid) FROM b$rounds WHERE bid <= a.bin) AS blk
       |   FROM a)
       | SELECT fin.bin, CAST(fin.n AS BIGINT) AS n,
       |   CAST(fin.s AS BIGINT) AS sum_y,
       |   CAST((fin.s * 1000000) // greatest(fin.n, 1) AS BIGINT)
       |     AS raw_ppm,
       |   CAST((b.s * 1000000) // greatest(b.n, 1) AS BIGINT) AS cal_ppm
       | FROM fin JOIN b$rounds b ON b.bid = fin.blk
       | ORDER BY bin""".stripMargin
  }

  /** Unrolled DoReMi replay: per-domain mean excess with explicit floor
    * semantics on the one signed division (the kMeans correction trick),
    * then `rounds` chained (update → renormalize → smooth) CTEs — all
    * remaining divisions are positive, where truncation IS floor in both
    * engines. etaDen is fixed at 1 here (factor = 2^20 + 200·L exactly).
    */
  private def doremiOracleSql(rounds: Int): String = {
    val S = 1L << 20
    val c = 1049L
    def round(t: Int): String =
      s""" m$t AS (SELECT domain, n, l, fac, alpha * fac // $S AS m
         |   FROM r${t - 1}),
         | s$t AS (SELECT sum(m) AS s FROM m$t),
         | r$t AS (SELECT domain, n, l, fac,
         |     ((${S - c} * ((m * $S * dd.d) // s$t.s)) + ${c * S}) // $S
         |       AS alpha
         |   FROM m$t, s$t, dd),""".stripMargin
    s"""WITH a AS (SELECT lang AS domain, count(*) AS n,
       |     sum((doc_id * 7919) % 2001 - 1000) AS s
       |   FROM documents GROUP BY lang),
       | dd AS (SELECT count(*) AS d FROM a),
       | f AS (SELECT domain, n,
       |     (s - ((s % n) + n) % n) // n AS l
       |   FROM a),
       | r0 AS (SELECT domain, n, l,
       |     $S + 200 * l AS fac, CAST($S AS BIGINT) AS alpha FROM f),
       |${(1 to rounds).map(round).mkString("\n")}
       | fin AS (SELECT * FROM r$rounds)
       | SELECT domain, CAST(n AS BIGINT) AS n_docs,
       |   CAST(l AS BIGINT) AS mean_excess, CAST(alpha AS BIGINT) AS weight
       | FROM fin ORDER BY domain""".stripMargin
  }

  private def pageRankOracleSql(iters: Int,
      modSql: String = "100", u0: String = PlainU0,
      v1: String = PlainV1): String = {
    val base = 1L << 20
    val tele = (3L * base) / 20L
    def iter(t: Int): String =
      s""" m$t AS (SELECT e.dst AS id, CAST(sum(r${t - 1}.r // od.od) AS BIGINT) AS m
         |   FROM e JOIN od USING (src) JOIN r${t - 1} ON r${t - 1}.id = e.src
         |   GROUP BY e.dst),
         | r$t AS (SELECT n.id, $tele + (17 * coalesce(m.m, 0)) // 20 AS r
         |   FROM nodes n LEFT JOIN m$t m USING (id)),""".stripMargin
    s"""WITH nv AS MATERIALIZED (SELECT $modSql AS m),
       | e AS (SELECT DISTINCT src, dst FROM
       |     (SELECT $u0 AS src, $v1 AS dst FROM documents, nv)
       |   WHERE src <> dst),
       | nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       | od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
       | r0 AS (SELECT id, CAST($base AS BIGINT) AS r FROM nodes),
       |${(1 to iters).map(iter).mkString("\n")}
       | fin AS (SELECT id, r FROM r$iters)
       | SELECT id, r AS rank FROM fin ORDER BY id""".stripMargin
  }

  /** Oracle for [[graft.ops.Graph.personalizedPageRank]]: the
    * [[pageRankOracleSql]] unroll with the one semantic delta the operator
    * has — teleport/init mass CASE-gated onto the seed set (r0 = base on
    * seeds else 0; per-round teleport = tele on seeds else 0). All rank
    * values stay non-negative, so DuckDB's floor `//` and Spark's
    * truncating DIV agree bit-for-bit.
    */
  private def pprOracleSql(iters: Int, seeds: Seq[Long],
      modSql: String, u0: String, v1: String): String = {
    val base = 1L << 20
    val tele = (3L * base) / 20L
    val seedList = seeds.mkString(", ")
    def iter(t: Int): String =
      s""" m$t AS (SELECT e.dst AS id, CAST(sum(r${t - 1}.r // od.od) AS BIGINT) AS m
         |   FROM e JOIN od USING (src) JOIN r${t - 1} ON r${t - 1}.id = e.src
         |   GROUP BY e.dst),
         | r$t AS (SELECT n.id,
         |     (CASE WHEN n.id IN ($seedList) THEN $tele ELSE 0 END)
         |       + (17 * coalesce(m.m, 0)) // 20 AS r
         |   FROM nodes n LEFT JOIN m$t m USING (id)),""".stripMargin
    s"""WITH nv AS MATERIALIZED (SELECT $modSql AS m),
       | e AS (SELECT DISTINCT src, dst FROM
       |     (SELECT $u0 AS src, $v1 AS dst FROM documents, nv)
       |   WHERE src <> dst),
       | nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       | od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
       | r0 AS (SELECT id, CAST(CASE WHEN id IN ($seedList)
       |     THEN $base ELSE 0 END AS BIGINT) AS r FROM nodes),
       |${(1 to iters).map(iter).mkString("\n")}
       | fin AS (SELECT id, r FROM r$iters)
       | SELECT id, r AS rank FROM fin ORDER BY id""".stripMargin
  }

  /** Oracle for [[graft.ops.TextSearch.prfExpansionTerms]]: the Dirichlet
    * feedback ranking replayed via [[dirichletQlOracleSql]]'s CTE body,
    * then the exact length-normalized expansion mass over the feedback
    * set with query terms excluded.
    */
  private def prfOracleSql(terms: Seq[String], fbDocs: Int, fbTerms: Int,
      mu: Long): String = {
    val tfSel = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(t, x -> x = '${t.toLowerCase}')) AS tf_$i"
    }.mkString(", ")
    val cfSel = terms.indices.map(i => s"sum(tf_$i) AS cf_$i").mkString(", ")
    val contrib = terms.indices.map(i =>
      s"CAST(round(1000000 * ln((tf_$i * c_total + $mu * greatest(cf_$i, 1))::DOUBLE / ((dl + $mu) * c_total)::DOUBLE)) AS BIGINT)")
      .mkString("\n       |     + ")
    val termList = terms.map(t => s"'${t.toLowerCase}'").mkString(", ")
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
       | d AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, $tfSel FROM tk),
       | s AS (SELECT CAST(sum(dl) AS BIGINT) AS c_total, $cfSel FROM d),
       | e AS (SELECT doc_id, dl,
       |     $contrib AS score_scaled
       |   FROM d, s),
       | fb AS (SELECT doc_id FROM e
       |   ORDER BY score_scaled DESC, doc_id LIMIT $fbDocs),
       | ft AS (SELECT tk.doc_id, CAST(len(t) AS BIGINT) AS dl,
       |     unnest(t) AS term
       |   FROM tk JOIN fb USING (doc_id) WHERE len(t) > 0),
       | fx AS (SELECT doc_id, dl, term, count(*)::BIGINT AS tf
       |   FROM ft WHERE term NOT IN ($termList) GROUP BY 1, 2, 3)
       | SELECT term,
       |   CAST(sum((tf * 1000000) // dl) AS BIGINT) AS weight_scaled,
       |   count(*)::BIGINT AS df_fb
       | FROM fx GROUP BY term
       | ORDER BY weight_scaled DESC, term LIMIT $fbTerms""".stripMargin
  }

  /** Oracle for [[graft.ops.TextSearch.retrievalEval]] over the
    * length-normalized-tf run fixture: the discount/prefix-sum literals
    * are regenerated with the SAME driver formula the operator uses, the
    * run is replayed with row_number over the identical (score desc, id)
    * order, and every metric is the identical integer algebra.
    */
  private def retrievalEvalOracleSql(terms: Seq[String], k: Int): String = {
    val ln2 = math.log(2.0)
    val disc = (1 to k).map(r => math.round(1e9 / (math.log(r + 1.0) / ln2)))
    val sd = disc.scanLeft(0L)(_ + _)
    val discList = disc.mkString("[", ", ", "]")
    val sdList = sd.mkString("[", ", ", "]")
    val termList = terms.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH d AS (SELECT doc_id, $tokensSql AS t FROM documents),
       | dl AS (SELECT doc_id, len(t) AS dl FROM d WHERE len(t) > 0),
       | q AS (SELECT unnest($termList) AS query),
       | tf AS (SELECT query, doc_id, count(*)::BIGINT AS tf FROM (
       |     SELECT doc_id, unnest(t) AS query FROM d) JOIN q USING (query)
       |   GROUP BY 1, 2),
       | sc AS (SELECT query, tf.doc_id, (tf * 1000000) // dl AS score
       |   FROM tf JOIN dl ON dl.doc_id = tf.doc_id),
       | run AS (SELECT query, doc_id, rank FROM (
       |     SELECT query, doc_id, row_number() OVER (
       |       PARTITION BY query ORDER BY score DESC, doc_id) AS rank
       |     FROM sc) WHERE rank <= $k),
       | qr AS (SELECT query, doc_id, least(tf, 3) - 1 AS grade FROM tf),
       | gr AS (SELECT r.query, r.rank,
       |     coalesce(qr.grade, 0) AS g
       |   FROM run r LEFT JOIN qr ON qr.query = r.query
       |     AND qr.doc_id = r.doc_id),
       | lits AS (SELECT $discList AS disc, $sdList AS sd),
       | ra AS (SELECT query, sum(g * disc[rank])::BIGINT AS dcg_s,
       |     sum(CASE WHEN g > 0 THEN 1 ELSE 0 END)::BIGINT AS hits,
       |     min(CASE WHEN g > 0 THEN rank END) AS fr
       |   FROM gr, lits GROUP BY query),
       | hist AS (SELECT query,
       |     sum(CASE WHEN grade = 3 THEN 1 ELSE 0 END)::BIGINT AS n3,
       |     sum(CASE WHEN grade >= 2 THEN 1 ELSE 0 END)::BIGINT AS n32,
       |     sum(CASE WHEN grade >= 1 THEN 1 ELSE 0 END)::BIGINT AS n_rel
       |   FROM qr GROUP BY query),
       | ideal AS (SELECT query, n_rel,
       |     (3 * sd[least($k, n3) + 1]
       |      + 2 * (sd[least($k, n32) + 1] - sd[least($k, n3) + 1])
       |      + (sd[least($k, n_rel) + 1] - sd[least($k, n32) + 1]))::BIGINT
       |       AS idcg_s
       |   FROM hist, lits)
       | SELECT i.query, i.n_rel, ra.hits, ra.dcg_s, i.idcg_s,
       |   CASE WHEN i.idcg_s > 0 THEN (ra.dcg_s * 1000000) // i.idcg_s
       |     ELSE 0 END::BIGINT AS ndcg_ppm,
       |   coalesce(1000000 // ra.fr, 0)::BIGINT AS mrr_ppm,
       |   CASE WHEN i.n_rel > 0 THEN (ra.hits * 1000000) // i.n_rel
       |     ELSE 0 END::BIGINT AS recall_ppm
       | FROM ideal i JOIN ra USING (query) ORDER BY i.query""".stripMargin
  }

  /** Unrolled HITS oracle: `iters` rounds of (authority from previous
    * hubs, hub from NEW authorities), max-normalized in HUGEINT — the
    * [[pageRankOracleSql]] convention for [[graft.ops.Graph.hits]].
    */
  private def hitsOracleSql(iters: Int, modSql: String, u0: String,
      v1: String, v2: String): String = {
    val base = 1L << 20
    def round(t: Int): String =
      s""" ra$t AS (SELECT e.dst AS id, sum(h) AS r
         |   FROM e JOIN h${t - 1} ON h${t - 1}.id = e.src GROUP BY e.dst),
         | ma$t AS (SELECT max(r) AS mx FROM ra$t),
         | a$t AS (SELECT n.id, coalesce((ra$t.r * $base) // ma$t.mx, 0) AS a
         |   FROM nodes n LEFT JOIN ra$t ON ra$t.id = n.id, ma$t),
         | rh$t AS (SELECT e.src AS id, sum(a) AS r
         |   FROM e JOIN a$t ON a$t.id = e.dst GROUP BY e.src),
         | mh$t AS (SELECT max(r) AS mx FROM rh$t),
         | h$t AS (SELECT n.id, coalesce((rh$t.r * $base) // mh$t.mx, 0) AS h
         |   FROM nodes n LEFT JOIN rh$t ON rh$t.id = n.id, mh$t),""".stripMargin
    s"""WITH nv AS MATERIALIZED (SELECT $modSql AS m),
       | e AS (SELECT DISTINCT src, dst FROM (
       |     SELECT $u0 AS src, $v1 AS dst FROM documents, nv
       |     UNION ALL
       |     SELECT $u0 AS src, $v2 AS dst FROM documents, nv)
       |   WHERE src <> dst),
       | nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       | h0 AS (SELECT id, CAST($base AS HUGEINT) AS h FROM nodes),
       |${(1 to iters).map(round).mkString("\n")}
       | fin AS (SELECT h$iters.id, h$iters.h AS hub, a$iters.a AS auth
       |   FROM h$iters JOIN a$iters ON a$iters.id = h$iters.id)
       | SELECT id, CAST(hub AS BIGINT) AS hub, CAST(auth AS BIGINT) AS auth
       | FROM fin ORDER BY id""".stripMargin
  }

  /** Shared CTE body of the integer-exact k-means replay: quantized
    * vectors `v`, lowest-id init `c0`, `iters` Lloyd rounds, final
    * assignment `a<iters>` (vec_id, q, cid, d) against centroids
    * `c<iters>` — used verbatim by [[kMeansOracleSql]] and by
    * `q_nprobe_sweep`'s probe-search-recall replay so the two oracles
    * can never drift apart.
    */
  private def kMeansCteBody(k: Int, iters: Int): String = {
    def iter(t: Int): String =
      s""" j$t AS (SELECT v.vec_id, v.q AS vq, c.cid,
         |     list_sum(list_transform(range(1, len(v.q) + 1),
         |       i -> (v.q[i] - c.q[i]) * (v.q[i] - c.q[i]))) AS d
         |   FROM v, c$t c),
         | a$t AS (SELECT vec_id, vq AS q, cid, d FROM (
         |     SELECT *, row_number()
         |         OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM j$t)
         |   WHERE rn = 1)""".stripMargin
    def mstep(t: Int): String =
      s""" e$t AS (SELECT cid, unnest(range(1, len(q) + 1)) AS i,
         |     unnest(q) AS x FROM a$t),
         | m$t AS (SELECT cid, i,
         |     CAST((sum(x) - ((sum(x) % count(*)) + count(*)) % count(*))
         |       // count(*) AS BIGINT) AS m
         |   FROM e$t GROUP BY cid, i),
         | n$t AS (SELECT cid, list(m ORDER BY i) AS q FROM m$t GROUP BY cid),
         | c${t + 1} AS (SELECT c$t.cid, coalesce(n$t.q, c$t.q) AS q
         |   FROM c$t LEFT JOIN n$t USING (cid))""".stripMargin
    val body = (0 until iters).map(t => iter(t) + ",\n" + mstep(t))
      .mkString(",\n")
    s"""v AS (SELECT vec_id,
       |     list_transform(embedding,
       |       x -> CAST(round(CAST(x AS DOUBLE) * ${1L << 20}) AS BIGINT))
       |       AS q
       |   FROM embeddings WHERE embedding IS NOT NULL),
       | c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q
       |   FROM (SELECT vec_id, q FROM v ORDER BY vec_id LIMIT $k)),
       |$body,
       |${iter(iters)}""".stripMargin
  }

  private def kMeansOracleSql(k: Int, iters: Int): String =
    s"""WITH ${kMeansCteBody(k, iters)}
       | SELECT vec_id, CAST(cid AS BIGINT) AS cluster, CAST(d AS BIGINT) AS d2
       | FROM a$iters ORDER BY vec_id""".stripMargin

  /** `q_nprobe_sweep`'s full value replay: the k-means CTE chain, then
    * integer centroid-probe order per query (d2 asc, cid asc), in-cell
    * quantized-L2 top-5 (d asc, id asc) per nprobe, exact quantized-L2
    * truth top-5, and the hit-count recall ppm — every floor division
    * spelled the engine way (`//` on non-negative integers).
    */
  private def nprobeSweepOracleSql(k: Int, iters: Int): String =
    s"""WITH ${kMeansCteBody(k, iters)},
       | qv AS (SELECT vec_id AS qid, q AS qq FROM v WHERE vec_id < 10),
       | cd AS (SELECT qv.qid, c.cid,
       |     list_sum(list_transform(range(1, len(qv.qq) + 1),
       |       i -> (qv.qq[i] - c.q[i]) * (qv.qq[i] - c.q[i]))) AS d
       |   FROM qv, c$iters c),
       | probe AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |     ORDER BY d, cid) AS pr FROM cd),
       | truth AS (SELECT qid, vec_id FROM (
       |     SELECT qv.qid, a.vec_id, row_number() OVER (PARTITION BY qv.qid
       |         ORDER BY list_sum(list_transform(range(1, len(qv.qq) + 1),
       |           i -> (qv.qq[i] - a.q[i]) * (qv.qq[i] - a.q[i]))),
       |           a.vec_id) AS rn
       |     FROM qv JOIN a$iters a ON a.vec_id <> qv.qid)
       |   WHERE rn <= 5),
       | nt AS (SELECT count(*)::BIGINT AS n FROM truth),
       | np(np) AS (SELECT * FROM (VALUES (1), (2), (4), (8))),
       | cand AS (SELECT n.np, qv.qid, a.vec_id,
       |     row_number() OVER (PARTITION BY n.np, qv.qid
       |       ORDER BY list_sum(list_transform(range(1, len(qv.qq) + 1),
       |         i -> (qv.qq[i] - a.q[i]) * (qv.qq[i] - a.q[i]))),
       |         a.vec_id) AS rn
       |   FROM np n
       |   JOIN probe p ON p.pr <= n.np
       |   JOIN qv ON qv.qid = p.qid
       |   JOIN a$iters a ON a.cid = p.cid AND a.vec_id <> qv.qid),
       | hit AS (SELECT c.np, c.qid, c.vec_id
       |   FROM (SELECT np, qid, vec_id FROM cand WHERE rn <= 5) c
       |   JOIN truth t ON t.qid = c.qid AND t.vec_id = c.vec_id),
       | hits AS (SELECT n.np, count(hit.qid)::BIGINT AS h
       |   FROM np n LEFT JOIN hit ON hit.np = n.np GROUP BY n.np)
       | SELECT CAST(h.np AS INT) AS nprobe,
       |   (h.h * 1000000) // nt.n AS recall_ppm
       | FROM hits h, nt ORDER BY nprobe""".stripMargin

  /** DuckDB fragment: distinct 3-shingle strings over a token list `t`,
    * mirroring ShingleOps (whole token sequence as one shingle when < k
    * tokens). Jaccard over these string sets equals Jaccard over the
    * engine's 64-bit shingle-hash sets (collisions ~1e-10 at this scale).
    */
  private val shingleSetSql =
    """CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |     ELSE list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                         for i in range(1, len(t) - 1)]) END""".stripMargin

  /** Non-distinct variant of [[shingleSetSql]] — mirrors
    * TextAnalysis.shinglesFromTokens exactly (positional list; minima are
    * unaffected by duplicates, so the portable minhash replay uses this).
    */
  private val shingleListSql =
    """CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |     ELSE [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |           for i in range(1, len(t) - 1)] END""".stripMargin

  /** Covariance trace as Σ of 64 per-dimension sample variances — exactly
    * the diagonal the distributed Gram aggregation produces (n−1
    * denominator both sides; rounded to 4 to absorb summation-order ulps).
    */
  private val traceSql: String =
    (1 to 64).map(d => s"var_samp(embedding[$d]::DOUBLE)")
      .grouped(4).map(_.mkString(" + ")).mkString(" +\n |       ")

  /** The 8 projected components of the Achlioptas random projection as a
    * DuckDB struct-list literal — signs and term ORDER generated from
    * [[graft.ops.Similarity.projectionSigns]] (the operator's own matrix),
    * terms added left-to-right in ascending column index exactly like the
    * operator's `reduceLeft`, so the double sums agree bit-for-bit.
    * `+ 0.0` canonicalizes −0.0 on both engines.
    */
  private val projectionRowsSql: String =
    graft.ops.Similarity.projectionSigns(8, 64).zipWithIndex.map { case (row, j) =>
      val terms = row.iterator.zipWithIndex.filter(_._1 != 0).map {
        case (1, i) => s"+ embedding[${i + 1}]::DOUBLE"
        case (_, i) => s"- embedding[${i + 1}]::DOUBLE"
      }.mkString(" ")
      val body = if (terms.isEmpty) "0.0" else terms.stripPrefix("+ ")
      s"{'j': $j, 'v': round(($body) * sqrt(3.0/8), 6) + 0.0}"
    }.mkString(",\n |     ")

  /** The 64 portable-minhash position minima as one DuckDB list literal,
    * generated from [[graft.ops.Dedup.portableMinhashCoeffs]] — the SAME
    * coefficient stream the Spark operator embeds, so the two sides cannot
    * drift. `h` is the md5-prefix hash list; 67108863 = 2^26−1 splits it
    * into the (h₁, h₂) halves; 2147483647 = the shared Mersenne modulus.
    */
  private val minhashSigSql: String =
    graft.ops.Dedup.portableMinhashCoeffs(64).map { case (a, b, c) =>
      s"list_min(list_transform(h, v -> ($a*(v & 67108863) + $b*(v >> 26) + $c) % 2147483647))"
    }.mkString("[\n       ", ",\n       ", "]")

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** DuckDB fragment: the SAME PII regexp_replace chain the operator applies
    * (generated from one pattern list so they cannot drift; DuckDB string
    * literals don't process backslashes, so patterns embed verbatim).
    */
  private val redactSql = TextAnalysis.PiiPatterns.foldLeft("text") {
    case (e, (pat, repl)) => s"regexp_replace($e, '$pat', '$repl', 'g')"
  }

  private val enStopSql = sqlList(TextAnalysis.StopwordProfiles("en"))

  /** DuckDB fragment: one {'s': score, 'c': lang} struct per profile, in lang
    * order — greatest() over these mirrors the engine's argmax tie-break
    * (struct comparison is field-order lexicographic in both engines).
    */
  private val langScoreStructsSql = TextAnalysis.StopwordProfiles.toSeq.sortBy(_._1)
    .map { case (lang, words) =>
      s"{'s': len(list_intersect(t, ${sqlList(words)})), 'c': '$lang'}"
    }.mkString(",\n         |     ")

  /** DuckDB VALUES rows of the shared character-trigram language model —
    * interpolated verbatim from [[TextAnalysis.NgramProfiles]] so both
    * engines score from the identical (gram, lang, weight) literals; the
    * langId scaladoc's oracle-parity contract.
    */
  private val ngramProfileValuesSql: String =
    TextAnalysis.NgramProfiles.toSeq.sortBy(_._1).flatMap { case (lang, grams) =>
      grams.map { case (g, w) => s"('${g.replace("'", "''")}', '$lang', $w)" }
    }.mkString(", ")
}
