package graft.rank

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gfn
import graft.index.IndexTables
import graft.text.TextPipeline

/** Query-time retrieval + scoring: the reference's Ranker.rankDocs +
  * WebController final scoring (Ranker.kt:48-98, WebController.kt:48-83)
  * as one DataFrame job. The SERP is a DataFrame with the score breakdown
  * columns (total, cos, pr, title_score) — HTML rendering is presentation,
  * out of engine scope (SURVEY.md §2.7).
  *
  * Exactness notes:
  *  - single-word score = tf · tfidf_r6 per occurrence (the reference
  *    scatter-adds the ROUNDED tfidf once per posting-list occurrence);
  *  - phrase score = (Σ over phrase TOKENS, duplicates included, of
  *    tfidf_r6) × non-overlapping phrase count;
  *  - an unknown word inside a phrase kills the whole phrase; an unknown
  *    single word is dropped (Ranker.kt:100-119);
  *  - normalizer = docLen · sqrt(#resolved term ids, flattened);
  *  - meanScore = Σ normalized / (3·|results|) — query-dependent;
  *  - title match uses ALL query stems (pre-resolution,
  *    WebController.kt:69), testing tokenized-title membership OR raw
  *    case-insensitive substring;
  *  - canonical tie-break: url_id ascending (the reference's tie order is
  *    racy map iteration — SURVEY.md §2.5 T3).
  */
object Searcher {

  final case class Prepared(index: IndexTables, ranks: DataFrame, maxPR: Double,
                            statics: DataFrame, postingsTfidf: DataFrame,
                            serve: SparkSession, viewNames: Seq[String],
                            wordIdLocal: Option[Map[String, Long]] = None) {
    /** Release the cached rank + statics + postings⋈tfidf tables and the
      * global temp views backing the serve session — a long-lived serving
      * session should close() retired Prepared instances or cached plans
      * accumulate. */
    def close(): Unit = {
      ranks.unpersist(); statics.unpersist(); postingsTfidf.unpersist()
      viewNames.foreach(serve.catalog.dropGlobalTempView)
      ()
    }
  }

  private val prepareIds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One-time serving prep: cache the rank table, read the global max PR,
    * and pre-join the four QUERY-INDEPENDENT per-doc dimensions
    * (max_tf ⋈ rank ⋈ title ⋈ url) into one cached `statics` table. The
    * per-query serve then pays ONE url_id join against statics instead of
    * four separate joins — on a latency-bound path each extra join is a
    * broadcast-exchange job of its own, and all four were identical across
    * queries (the classic prepared-statement trade: do query-invariant work
    * once). statics is index-sized (one row per doc), so at cluster scale
    * it stays a shuffle join keyed the same way as the scoring aggregate.
    *
    * The serve runs on a DEDICATED session (`spark.newSession()` — own
    * SQLConf, shared SparkContext + cache): the latency-path conf choices
    * ([[serveConf]], e.g. AQE off) are set ONCE there and never touch the
    * caller's session, so concurrent non-search queries can't observe
    * serve conf and racing search() calls can't clobber each other's
    * restore (ADVICE r5 #4 — the old per-call set/restore was non-atomic).
    * Index tables are rebound onto the serve session through global temp
    * views; the shared CacheManager still substitutes the parent's cached
    * plans, so nothing is recomputed or duplicated. */
  def prepare(index: IndexTables, ranks: DataFrame): Prepared = {
    val parent = ranks.sparkSession
    val cached = ranks.cache()
    // coalesce: max over ZERO rows is SQL NULL — an index built from an
    // empty crawl must serve empty SERPs, not NPE inside prepare()
    val maxPR = cached.agg(coalesce(max("rank"), lit(0.0))).head().getDouble(0)

    val serve = parent.newSession()
    // builder-level confs propagate to new sessions via the SparkContext
    // conf; runtime-set keys the serve path depends on are copied explicitly
    Seq("spark.sql.session.timeZone",
        "spark.sql.ansi.enabled", "spark.sql.autoBroadcastJoinThreshold")
      .foreach(k => parent.conf.getOption(k).foreach(serve.conf.set(k, _)))
    serveConf(parent).foreach { case (k, v) => serve.conf.set(k, v) }
    // serve-side shuffle partitioning is DERIVED from the index size
    // (round 7, guide §2 scale-adaptive partitioning): the per-query
    // matched set is ≤ n docs, so a small index stops paying a
    // cluster-width task wave per tiny shuffle stage while a 10⁸-doc index
    // keeps the parent's full parallelism (~50k docs/partition, capped at
    // the parent's configured shuffle partitions).
    val parentSp = parent.conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(s => scala.util.Try(s.toInt).toOption)
      .getOrElse(parent.sparkContext.defaultParallelism)
    val serveSp = math.max(1L,
      math.min(parentSp.toLong, (index.n + 49999L) / 50000L)).toInt
    serve.conf.set("spark.sql.shuffle.partitions", serveSp.toString)

    val id = prepareIds.incrementAndGet()
    var views = List.empty[String]
    var caches = List.empty[DataFrame]
    def rebind(df: DataFrame, name: String): DataFrame = {
      val vn = s"graft_serve_${id}_$name"
      df.createOrReplaceGlobalTempView(vn)
      views ::= vn
      serve.table(s"global_temp.$vn")
    }
    // any failure after the first rebind must drop the views and caches
    // created so far — Prepared was never constructed, so the caller has
    // no close() handle to release them (ADVICE r6 #4)
    try {
      val sIdx = IndexTables(
        urlDict = rebind(index.urlDict, "url_dict"),
        links = rebind(index.links, "links"),
        docWords = rebind(index.docWords, "doc_words"),
        wordDict = rebind(index.wordDict, "word_dict"),
        postings = rebind(index.postings, "postings"),
        maxTf = rebind(index.maxTf, "max_tf"),
        tfidf = rebind(index.tfidf, "tfidf"),
        docLen = rebind(index.docLen, "doc_len"),
        urlInfo = rebind(index.urlInfo, "url_info"),
        n = index.n,
        urlWordCount = rebind(index.urlWordCount, "url_word_count"))
      val sRanks = rebind(cached, "ranks")

      // statics now folds in EVERY query-invariant per-doc value the serve
      // path consumes (round 7): doc length (the normalizer divisor — was a
      // separate per-query join), the tokenized + lowercased title (was
      // re-tokenized per matched doc on every query). docLen's keyset
      // equals maxTf's (both derive from the postings-bearing docs), so the
      // inner join changes no rows.
      val statics = sIdx.maxTf
        .join(sRanks, Seq("url_id"), "left")
        .join(sIdx.urlInfo.select("url_id", "title"), Seq("url_id"))
        .join(sIdx.urlDict.select("url_id", "url"), Seq("url_id"))
        .join(sIdx.docLen, Seq("url_id"))
        .select(col("url_id"), col("max_tf"),
          coalesce(col("rank"), lit(0.0)).as("rank"), col("title"), col("url"),
          col("len"),
          gfn.tokenize_words(col("title")).as("title_toks"),
          lower(col("title")).as("title_lc"))
        .cache()
      caches ::= statics
      statics.count(): Unit // materialize once, outside the first query's wall

      // the single-word scoring path joins postings⋈tfidf on the SAME
      // (url_id, word_id) key on every query — pre-join it once here (the
      // prepared-statement trade again; one serving-index-sized cache)
      val postingsTfidf = sIdx.postings
        .join(sIdx.tfidf, Seq("url_id", "word_id"))
        .select(col("word_id"), col("url_id"), col("tf"), col("tfidf_r6"))
        .cache()
      caches ::= postingsTfidf
      postingsTfidf.count(): Unit

      // serving-side term dictionary (round 7, size-adaptive): resolving
      // query stems to word ids was a distributed filter+collect JOB on
      // every serve. A real serving tier holds the term dictionary in
      // memory when it fits; ≤ 1M terms (~tens of MB) collects to a driver
      // map here, larger vocabularies keep the distributed lookup — the
      // same scale-adaptive trade as the statics cache.
      val wordIdLocal =
        if (sIdx.wordDict.count() <= 1000000L)
          Some(sIdx.wordDict.collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap)
        else None

      Prepared(sIdx, cached, maxPR, statics, postingsTfidf, serve, views,
        wordIdLocal)
    } catch { case e: Throwable =>
      caches.foreach(c => scala.util.Try(c.unpersist()))
      views.foreach(v => scala.util.Try(serve.catalog.dropGlobalTempView(v)))
      scala.util.Try(cached.unpersist())
      throw e
    }
  }

  private def emptyResult(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("rank", IntegerType), StructField("url_id", LongType),
        StructField("url", StringType), StructField("total", DoubleType),
        StructField("cos", DoubleType), StructField("pr", DoubleType),
        StructField("title_score", DoubleType), StructField("title", StringType))))
  }

  /** Serving-path latency confs, applied once to the DEDICATED serve
    * session in [[prepare]]. AQE turns every query stage of the SERP
    * plan into its own driver-replanned job with a materialization barrier:
    * measured on the demo index, the ~15-stage serve plan became ~15
    * sequential jobs at ~300-400 ms scheduling overhead each — 6 s of a
    * 6.5 s warm wall was AQE round-trips, not compute (stage task time
    * summed to <1 s). A latency-bound top-K serve wants the whole DAG
    * scheduled as ONE job, so AQE is disabled on the serve session by
    * default; set spark.graft.serve.aqe=true on the PARENT session before
    * prepare() to restore it (the right trade when the per-query
    * matched-doc set is large enough that runtime skew handling and
    * partition coalescing beat scheduling round-trips — e.g. single-token
    * queries over a multi-TB index). */
  private def serveConf(parent: SparkSession): Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> parent.conf.get("spark.graft.serve.aqe", "false"))

  /** The `spark` parameter is retained for API stability but the query
    * executes on the Prepared's dedicated serve session — the caller's
    * session conf is never touched. */
  def search(spark: SparkSession, p: Prepared, query: String, topK: Int = 50): DataFrame =
    searchImpl(p.serve, p, query, topK)

  private def searchImpl(spark: SparkSession, p: Prepared, query: String, topK: Int): DataFrame = {
    import spark.implicits._
    val idx = p.index

    // -- driver-side query analysis (queries are tiny) ----------------------
    val groups = TextPipeline.tokenizeQuery(query)
    if (groups.isEmpty) return emptyResult(spark)
    val allStems = groups.flatten
    val wordIdMap = p.wordIdLocal match {
      case Some(dict) => // prepared in-memory dictionary (small vocab)
        allStems.distinct.flatMap(s => dict.get(s).map(s -> _)).toMap
      case None => idx.wordDict
        .filter(col("word").isInCollection(allStems.distinct))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

    // findWordId with the phrase-kill rule (Ranker.kt:100-119)
    val idGroups: List[Vector[Long]] = groups.flatMap { g =>
      val isPhrase = g.size > 1
      val resolved = g.flatMap(wordIdMap.get)
      if (isPhrase && resolved.size != g.size) None
      else if (resolved.isEmpty) None
      else Some(resolved.toVector)
    }
    if (idGroups.isEmpty) return emptyResult(spark)

    val queryLength = math.sqrt(idGroups.map(_.size).sum.toDouble)

    // -- single-word contributions: one broadcast join over the PREPARED
    // postings⋈tfidf table (the per-query (url_id, word_id) join moved
    // into prepare(), round 7) --------------------------------------------
    val singles = idGroups.filter(_.size == 1).map(_.head)
      .groupBy(identity).map { case (w, occ) => (w, occ.size) }.toSeq
    val singleScores: Option[DataFrame] =
      if (singles.isEmpty) None
      else {
        val sdf = broadcast(singles.toDF("word_id", "mult"))
        Some(p.postingsTfidf.join(sdf, Seq("word_id"))
          .select(col("url_id"),
            (col("mult") * col("tf") * col("tfidf_r6")).as("contrib")))
      }

    // -- phrase contributions: forward-index scan per phrase ----------------
    val phrases = idGroups.filter(_.size > 1)
    val phraseScores: Seq[DataFrame] = phrases.map { ph =>
      val matches = idx.docWords
        .select(col("url_id"),
          gfn.count_phrase(col("words"), typedlit(ph)).as("c"))
        .filter(col("c") > 0)
      val terms = broadcast(
        ph.groupBy(identity).map { case (w, occ) => (w, occ.size) }
          .toSeq.toDF("word_id", "mult"))
      val termSum = idx.tfidf.join(terms, Seq("word_id"))
        .groupBy("url_id")
        .agg(sum(col("mult") * col("tfidf_r6")).as("term_sum"))
      matches.join(termSum, Seq("url_id"))
        .select(col("url_id"), (col("term_sum") * col("c")).as("contrib"))
    }

    val contributions = (singleScores.toSeq ++ phraseScores)
      .reduce(_ unionByName _)
    val rawScores = contributions.groupBy("url_id")
      .agg(sum("contrib").as("raw"))

    // -- normalization (Ranker.kt:92-95) ------------------------------------
    // ONE join against the prepared statics table per query (round 7):
    // statics now carries the doc length too, so the normalizer and the
    // final scoring share a single url_id join instead of two. The cache
    // cut moves here — same dedup role the old `norm` cache played for the
    // mean-score aggregate + scoring consumers.
    val joined = rawScores.join(p.statics, Seq("url_id"))
      .withColumn("score", col("raw") / (col("len") * lit(queryLength)))
      .cache()

    // meanScore (Σ score / 3n — identical arithmetic to the reference's
    // driver-side mean) enters the plan as a BROADCAST 1-row aggregate
    // instead of a driver collect: the whole SERP is then ONE Spark job
    // after the word-id lookup (was three — the serving-latency lever on
    // a batch engine, where job launch dominates at top-50 scale). The
    // statics join changes no rows vs aggregating over rawScores⋈docLen:
    // statics' keyset equals docLen's (prepare() scaladoc).
    val stats = joined.agg(
      (sum("score") / (count(lit(1)) * 3)).as("mean_score"))

    // -- final scoring (WebController.kt:60-83) ------------------------------
    // title_toks / title_lc are PRECOMPUTED in statics (query-invariant;
    // the per-query tokenize of every matched title was pure serve tax)
    val stemsLit = typedlit(allStems)
    val scored = joined
      .crossJoin(broadcast(stats))
      .withColumn("cos", col("score") / col("max_tf"))
      .withColumn("pr", col("rank") / lit(p.maxPR * 3))
      .withColumn("title_score",
        size(filter(stemsLit, t =>
          array_contains(col("title_toks"), t) ||
            contains(col("title_lc"), t))) * col("mean_score"))
      .withColumn("total", col("cos") + col("pr") + col("title_score"))

    // global top-K as a TakeOrderedAndProject (no single-partition sort
    // exchange); the rank column is assigned DRIVER-side over the collected
    // ≤ topK rows — identical semantics to a row_number() window ordered by
    // (total desc, url_id asc), without the Window's one-partition shuffle
    // that used to be the serve job's last stage
    val top = scored
      .select("url_id", "url", "total", "cos", "pr", "title_score", "title")
      .orderBy(desc("total"), asc("url_id"))
      .limit(topK)

    // the SERP is ≤ topK rows — materialize it as a LocalRelation so the
    // per-query `norm` cache can be released immediately (a serving session
    // firing many queries must not accumulate cached plans), and downstream
    // joins (serpDetails) get a broadcastable local table for free. The
    // unpersist is in a finally: a failed/cancelled serve job must not
    // leak one cached plan per failed query
    val collected =
      try top.collect()
      finally joined.unpersist()
    if (collected.isEmpty) return emptyResult(spark) // pinned empty-SERP schema
    // re-assert the order driver-side (TakeOrderedAndProject returns rows
    // already ordered; this is a ≤ topK-element no-op guard, not a sort job)
    val ordered = collected.sortBy(r => (-r.getDouble(2), r.getLong(0)))
    val rows: Seq[org.apache.spark.sql.Row] = ordered.zipWithIndex.map {
      case (r, i) => org.apache.spark.sql.Row.fromSeq((i + 1) +: r.toSeq)
    }.toSeq
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false) +: top.schema.fields)
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** J7/T4/F12: the SERP metadata block — one multi-way left join of the
    * top-K ids against url_info, the per-doc top-5 term list (first 5
    * entries of the count-desc list, WebController.kt:134-140), PageRank,
    * and the child/parent url lists (parent = transposed edge list — free
    * on (src,dst), no second table; WebController.kt:104-142). Dates render
    * in Asia/Hong_Kong at display time only (WebController.kt:30-33). */
  def serpDetails(p: Prepared, serp: DataFrame): DataFrame = {
    val idx = p.index
    // bound every aggregate to the ≤ topK SERP ids BEFORE the groupBy:
    // the serp is a broadcastable LocalRelation, so each semi-join prunes
    // the corpus-scale side at the scan — without it every details request
    // would collect_list the ENTIRE link/term tables to serve ~50 rows
    val ids = serp.select("url_id")
    val childLists = idx.links
      .join(ids.withColumnRenamed("url_id", "src"), Seq("src"), "left_semi")
      .join(idx.urlDict.select(col("url_id").as("dst"), col("url").as("curl")), "dst")
      .groupBy(col("src").as("url_id"))
      .agg(sort_array(collect_list("curl")).as("child_urls"))
    val parentLists = idx.links
      .join(ids.withColumnRenamed("url_id", "dst"), Seq("dst"), "left_semi")
      .join(idx.urlDict.select(col("url_id").as("src"), col("url").as("purl")), "src")
      .groupBy(col("dst").as("url_id"))
      .agg(sort_array(collect_list("purl")).as("parent_urls"))
    val top5 = idx.urlWordCount
      .join(ids, Seq("url_id"), "left_semi")
      .select(col("url_id"), posexplode(slice(col("pairs"), 1, 5)).as(Seq("i", "p")))
      .join(idx.wordDict, col("p.word_id") === idx.wordDict("word_id"))
      .groupBy("url_id")
      .agg(transform(
        sort_array(collect_list(struct(col("i").as("i"), col("word").as("word"),
          col("p.tf").as("tf")))),
        x => struct(x.getField("word").as("word"), x.getField("tf").as("tf")))
        .as("top_terms"))

    serp
      .join(idx.urlInfo.select("url_id", "last_modified", "size_bytes"), Seq("url_id"))
      .join(childLists, Seq("url_id"), "left")
      .join(parentLists, Seq("url_id"), "left")
      .join(top5, Seq("url_id"), "left")
      .withColumn("last_modified_hkt",
        date_format(from_utc_timestamp(col("last_modified"), "Asia/Hong_Kong"),
          "yyyy-MM-dd HH:mm:ss"))
      .withColumn("child_urls", coalesce(col("child_urls"), array()))
      .withColumn("parent_urls", coalesce(col("parent_urls"), array()))
      .select("rank", "url_id", "url", "total", "cos", "pr", "title_score",
        "title", "last_modified_hkt", "size_bytes", "top_terms",
        "parent_urls", "child_urls")
      .orderBy("rank")
  }
}
