package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.gfn

/** Large-scale training-data pipeline operators over the `documents` /
  * `embeddings` tables — first-class engine components beyond the
  * reference's own surface (deduplication, similarity search, text
  * analysis). Every SQL-expressible op here has a matching DuckDB oracle
  * in SparkEntry.oracleSql; hash choices (md5) are deliberately portable
  * so Spark and DuckDB compute IDENTICAL values.
  *
  * Scale notes: every pairwise op is bucketed (shingle / band / cell) so
  * the self-join is candidate-bounded instead of O(n²); aggregations are
  * map-side-combinable; doubles destined for the oracle compare are
  * rounded at the boundary.
  *
  * EAGERNESS CONTRACT: the pairwise dedup ops ([[jaccardPairs]],
  * [[minhashLshPairs]], [[simhashPairsFromFps]],
  * [[simhashPairsFromFpsTwoStage]], [[simhashPairsFromFpsWide]],
  * [[winnowPairs]]), [[dupClusters]] and [[ivfCosineTopK]]
  * are ACTIONS, not lazy transformations — constructing the result runs
  * Spark jobs on the caller's thread (the hot-key scan, an eager
  * localCheckpoint / collect that lets intermediate caches release
  * immediately — cache-leak hygiene in long-lived sessions outweighs plan
  * composability here). The six pairwise ops share ONE lifecycle,
  * [[candidatePairs]]: persist, count, hot-key cap, `a < b` self-join,
  * sort, localCheckpoint, unpersist. Compose further transformations on
  * the returned (already materialized, near-dup-sized) DataFrame freely;
  * audit plans with `.explain` BEFORE calling, on the inputs. The purely
  * lazy ops (text analysis, [[quantizeEmbeddings]], [[cosineDupPairsExact]],
  * [[bruteForceCosineTopK]], [[sessionize]]) stay transformations.
  */
object TrainingOps {

  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** whitespace tokens, empties dropped — `list_filter(string_split(…))`
    * in the DuckDB oracle. */
  def wsTokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Spread a small-but-COMPUTE-HEAVY input across the cluster. A highly
    * compressed tiny file scans as ONE task, so every row-local kernel
    * downstream (shingling, k salted-md5 minima, rolling-hash winnowing)
    * runs on one core until the first shuffle — measured as the entire
    * q_minhash_lsh wall (5+ s of single-threaded md5 at sf0.1, while 31
    * cores idled). Repartitioning text that compresses 10:1 costs a few
    * MB of shuffle against minutes of serial CPU — the same trade a real
    * cluster makes for heavily-compressed web text (a 100 TB corpus in
    * 1 GB gzip'd WARC segments has exactly this shape). No-op when the
    * scan is already at least half as parallel as the cluster. */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target) else df
  }

  // ------------------------------------------------------------------
  // text analysis
  // ------------------------------------------------------------------

  /** token counting: whitespace tokens + a BPE-ish `[a-z0-9]+` regex count. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(wsTokens(col("text"))).as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .as("re_tokens"),
        length(col("text")).as("chars"))
      .orderBy("doc_id")

  /** quality scoring: length, punctuation density, stopword-ish density,
    * mean token length. All expressible with portable string primitives. */
  def qualityScores(docs: DataFrame): DataFrame = {
    val chars = length(col("text")).cast("double")
    val toks = size(wsTokens(col("text"))).cast("double")
    val punct = (length(col("text")) -
      length(translate(col("text"), ".,;:!?", ""))).cast("double")
    val theCount = ((length(col("text")) -
      length(replace(col("text"), lit(" the "), lit("")))) / lit(5)).cast("double")
    // round_exact, not round(): at sf0.1 a quality value straddled a 4-dp
    // boundary between Spark's shortest-repr rounding and DuckDB's scaled
    // rounding — the floor-scaled form (ExprImpl.roundExact) is the one
    // semantics both engines compute bit-identically
    docs.select(col("doc_id"),
        gfn.round_exact(chars / greatest(toks, lit(1.0)), 4).as("mean_tok_len"),
        gfn.round_exact(punct / greatest(chars, lit(1.0)), 4).as("punct_ratio"),
        gfn.round_exact(theCount / greatest(toks, lit(1.0)), 4).as("the_ratio"),
        gfn.round_exact(
          least(chars / lit(500.0), lit(1.0)) * lit(0.5)
            + least(theCount / greatest(toks, lit(1.0)) * lit(10.0), lit(1.0)) * lit(0.3)
            + (lit(1.0) - least(punct / greatest(chars, lit(1.0)) * lit(5.0), lit(1.0))) * lit(0.2),
          4).as("quality"))
      .orderBy("doc_id")
  }

  /** Function-word profiles for the stopword-profile language id. Short,
    * high-frequency words only — the same portable occurrence-count
    * primitive (length-delta of a delimited replace) works in Spark and
    * the DuckDB oracle, so both engines compute IDENTICAL doubles and the
    * argmax needs no tolerance. Overlaps ("la" in fr AND es) are real
    * profile overlaps, resolved by the other words. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "la", "los", "que", "es"))

  /** language id v2: per-language function-word densities; predicted =
    * argmax profile score when it clears 0.02 function words per token,
    * else "other". Ties break by profile order (en, de, fr, es) — pinned
    * in both engines by identical comparison chains. */
  def langId(docs: DataFrame): DataFrame = {
    def occ(word: String): Column = {
      val token = s" $word "
      ((length(col("text")) - length(replace(lower(col("text")), lit(token), lit(""))))
        / lit(token.length)).cast("double")
    }
    val toks = greatest(size(wsTokens(col("text"))).cast("double"), lit(1.0))
    val scores = LangProfiles.map { case (langCode, words) =>
      langCode -> words.map(occ).reduce(_ + _) / toks
    }
    val best = greatest(scores.map(_._2): _*)
    // first profile (in declared order) reaching the max wins the tie
    val predicted = scores.reverse.foldLeft(lit("other")) {
      case (acc, (langCode, s)) => when(s === best && best > 0.02, lit(langCode)).otherwise(acc)
    }
    val scoreCols = scores.map { case (langCode, s) =>
      gfn.round_exact(s, 4).as(s"${langCode}_score") }
    docs.select(Seq(col("doc_id"), col("lang")) ++ scoreCols :+
        predicted.as("predicted"): _*)
      .orderBy("doc_id")
  }

  /** Event sessionization — the classic behavioral-pipeline op: per-user
    * events split into sessions at inactivity gaps > `gapSeconds`,
    * aggregated per session. Window functions over (user_id; ts,
    * event_id) — the same partitioning a 100 TB event log would shuffle
    * by anyway; no driver-side state. Money-sum pattern: exact DECIMAL
    * accumulation, DOUBLE at the boundary (oracle-parity rule). */
  def sessionize(events: DataFrame, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // events.ts arrives as TIMESTAMP_NTZ from parquet. The micros
    // extraction must NOT route through a NTZ→TIMESTAMP cast: that cast
    // interprets the wall time in spark.sql.session.timeZone, silently
    // shifting absolute start_us/end_us under a non-UTC session (r3
    // ADVICE). timestampdiff between two NTZ values is zone-free by
    // construction; plain TIMESTAMP inputs keep the direct unix_micros.
    val us = events.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
      case _ => unix_micros(col("ts"))
    }
    events
      .withColumn("prev_us", lag(us, 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          us - col("prev_us") > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_no", sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_no")
      .agg(count(lit(1)).as("n_events"),
        min(us).as("start_us"),
        max(us).as("end_us"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("user_id", "session_no")
  }

  // ------------------------------------------------------------------
  // deduplication
  // ------------------------------------------------------------------

  /** exact dedup: content-hash groups with a deterministic keeper. */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c"), min("doc_id").as("keeper"))
      .filter(col("c") > 1)
      .orderBy("h")

  /** exact dedup summary: corpus size before/after hash dedup. */
  def exactDupSummary(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("total_docs"),
      countDistinct(md5(col("text"))).as("distinct_docs"))

  /** Default hot-bucket cap for all pairwise dedup ops: a bucket key (a
    * shingle, a band signature, a simhash block, a winnow fingerprint)
    * shared by df docs yields df² candidate pairs in the self-join — one
    * boilerplate shingle shared by 10⁶ docs would be 10¹² pairs at 100 TB.
    * Keys hotter than this are dropped BEFORE the join (they carry no
    * near-dup signal anyway; a df-10⁵ shingle is stop-phrase boilerplate).
    * Fixture corpora sit far below the cap, so oracle outputs are
    * unaffected; PropertySpecs pin both facts. */
  val DefaultMaxBucketDf: Long = 100000L

  /** Drop bucket keys whose posting count exceeds maxDf before a pairwise
    * self-join (skew guard, see [[DefaultMaxBucketDf]]). The hot-key set is
    * tiny by construction (≤ |rows|/maxDf keys — ≤ 10⁶ keys even at 10¹¹
    * rows with the default cap), so it is COLLECTED to the driver: capping
    * is then observable (a WARN names the op and the dropped-key count —
    * silent recall loss was the round-2 ADVICE finding) and the anti-join
    * probe is a guaranteed-broadcast local relation. maxDf <= 0 disables.
    *
    * `keyDfBound` is an upper bound on any key's df ([[candidatePairs]]
    * passes its row count). When it is ≤ maxDf the scan provably returns
    * empty and is SKIPPED (round-7, guide §2.4 — remove shuffles outright):
    * at fixture/bench corpus sizes this removes a full groupBy-shuffle +
    * driver collect per op, while at production scale (#rows > maxDf) the
    * scan runs exactly as before.
    *
    * Returns the capped rows plus the dropped-keys table itself (a tiny
    * broadcast local relation, or None when nothing was capped), which
    * [[sharedKeyCounts]] needs to CORRECT per-pair counts for the dropped
    * keys rather than merely losing hot-only candidates. */
  private def capHotKeys(df: DataFrame, maxDf: Long, keyDfBound: Long,
                         keys: Seq[String]): (DataFrame, Option[DataFrame]) = {
    if (maxDf <= 0L || keyDfBound <= maxDf) (df, None)
    else {
      val hot = df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__df")).filter(col("__df") > maxDf)
        .select(keys.map(col): _*)
      val hotRows = hot.collect()
      if (hotRows.isEmpty) (df, None)
      else {
        org.apache.log4j.Logger.getLogger(getClass)
          .warn(s"capHotKeys: dropping ${hotRows.length} bucket key(s) with df > " +
            s"$maxDf before pairwise self-join on (${keys.mkString(", ")}) — " +
            "pairs ONLY reachable through a dropped key are lost (raise maxDf " +
            "or widen the bucket keys if that trade is wrong here)")
        val local = df.sparkSession.createDataFrame(
          java.util.Arrays.asList(hotRows: _*), hot.schema)
        // using-columns joins move the keys to the front — restore the order
        (df.join(broadcast(local), keys, "left_anti")
          .select(df.columns.map(col).toIndexedSeq: _*), Some(local))
      }
    }
  }

  /** distinct word-trigram shingles per doc as one row-local ARRAY column —
    * ZERO shuffle: shingles are a pure function of the text (a
    * lead()-window formulation would shuffle+sort every token in the
    * corpus for a row-local computation). Built by the single-pass
    * codegen'd [[gfn.trigram_shingles]] kernel, value-identical to the
    * DuckDB oracle's `list_distinct(list_transform(…))` — the built-in
    * transform/element_at form turned quadratic once CollapseProject
    * inlined the token alias (TextExprImpl.trigramShingles scaladoc). */
  def shingleArrays(docs: DataFrame): DataFrame =
    spread(docs).select(col("doc_id"),
      gfn.trigram_shingles(col("text")).as("shingles"))

  /** distinct word-trigram shingles per doc (doc_id, shingle) — the shared
    * building block of the Jaccard and MinHash paths. */
  def trigramShingles(docs: DataFrame): DataFrame =
    shingleArrays(docs)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))

  /** What an op's pair step sees: the cached base rows, their uncapped
    * postings, the dropped hot keys (if any) and the capped self-join. */
  private final case class Candidates(cached: DataFrame, postings: DataFrame,
                                      hot: Option[DataFrame], joined: DataFrame)

  /** The one candidate-pair lifecycle of every pairwise dedup op. It
    * persists `base` (tiny next to the corpus but expensive to compute, and
    * read by the hot-key scan and both join sides) and counts it: one job
    * that materializes the persist AND bounds the scan, since every op's
    * keys are distinct per base row (list_distinct shingles, one band/block
    * key per (doc, band), per-doc-deduplicated winnow fingerprints). It then
    * explodes the `postings` (doc_id, keys…, payload…) from the cache, caps
    * hot keys and self-joins on `keys` into `a < b` rows (doc_id → a / b,
    * payload columns suffixed alike: sh → sha / shb). `pairs` verifies
    * those into the op's rows, which are sorted by (a, b) and
    * localCheckpointed so the cache is released NOW: repeated calls in a
    * long-lived session must not accumulate cached plans (round-2 ADVICE
    * leak class, also on failure); checkpoint blocks are
    * ContextCleaner-managed, unlike CacheManager entries, which pin until an
    * explicit unpersist. */
  private def candidatePairs(base: DataFrame, maxDf: Long, keys: String*)(
      postings: DataFrame => DataFrame)(pairs: Candidates => DataFrame): DataFrame = {
    val cached = base.persist()
    try {
      val nRows = cached.count()
      val posting = postings(cached)
      val (capped, hot) = capHotKeys(posting, maxDf, nRows, keys)
      def side(id: String): DataFrame = capped.toDF(capped.columns.toIndexedSeq.map {
        case "doc_id" => id
        case k if keys.contains(k) => k
        case c => c + id
      }: _*)
      val joined = side("a").join(side("b"), keys).filter(col("a") < col("b"))
      pairs(Candidates(cached, posting, hot, joined)).orderBy("a", "b").localCheckpoint(true)
    } finally cached.unpersist()
  }

  /** Per-pair count of the shared `key` values, named `name`. The df cap
    * bounds CANDIDATE GENERATION only: when keys were actually dropped, the
    * capped join's count is CORRECTED by the pair's shared hot keys (each
    * doc's hot-key subset is a tiny row-local array from one linear
    * broadcast join + collect_set — the hot POSTINGS are at most
    * |docs|·|hot| rows, never joined pairwise), so a dropped hot key can
    * only lose pairs reachable SOLELY through it and never deflates the
    * count of a surviving pair. Exact because keys are distinct per doc.
    * With no hot keys (the common case) this is the plain capped count. */
  private def sharedKeyCounts(c: Candidates, key: String, name: String): DataFrame = {
    val counts = c.joined.groupBy("a", "b").agg(count(lit(1)).as(name))
    c.hot match {
      case None => counts
      case Some(hotDf) =>
        val hotPerDoc = c.postings.join(broadcast(hotDf), Seq(key))
          .groupBy("doc_id").agg(collect_set(col(key)).as("hot"))
        counts
          .join(hotPerDoc.toDF("a", "hot_a"), Seq("a"), "left")
          .join(hotPerDoc.toDF("b", "hot_b"), Seq("b"), "left")
          .withColumn(name, col(name) + size(array_intersect(
            coalesce(col("hot_a"), array()),
            coalesce(col("hot_b"), array()))).cast("long"))
          .select("a", "b", name)
    }
  }

  /** n-gram Jaccard near-dup pairs: shingle-bucketed self-join (the join
    * explodes only where shingles collide — candidate-bounded, not O(n²)),
    * exact Jaccard ≥ threshold. Set sizes come from the shingle ARRAY
    * row-locally (no extra aggregation shuffle). A capped hot shingle can
    * never deflate the Jaccard of a surviving pair ([[sharedKeyCounts]];
    * counting the capped join rows alone would: two docs sharing a hot
    * shingle plus others would score (inter−1)/(sa+sb−inter+1)). */
  def jaccardPairs(docs: DataFrame, threshold: Double,
                   maxShingleDf: Long = DefaultMaxBucketDf): DataFrame =
    candidatePairs(shingleArrays(docs), maxShingleDf, "shingle")(
      _.select(col("doc_id"), explode(col("shingles")).as("shingle"))) { c =>
      val sizes = c.cached.select(col("doc_id"), size(col("shingles")).as("sz"))
      sharedKeyCounts(c, "shingle", "inter")
        .join(sizes.toDF("a", "sa"), "a")
        .join(sizes.toDF("b", "sb"), "b")
        .withColumn("jaccard", gfn.round_exact(col("inter").cast("double") /
          (col("sa") + col("sb") - col("inter")).cast("double"), 4))
        .filter(col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    }

  /** MinHash signatures: k md5-salted lexicographic-min hashes over the
    * shingle set (md5 is portable to the DuckDB oracle; at production
    * scale swap for xxhash64 — same plan shape). Computed ROW-LOCALLY in
    * ONE pass by the codegen'd [[gfn.minhash_sigs]] kernel — zero
    * shuffle; identical values to the oracle's GROUP-BY-min over
    * exploded shingles, and ~25× the throughput of the previous
    * `array_min(transform(…, md5(…)))` form (higher-order functions
    * evaluate their lambdas interpreted, with a fresh MessageDigest per
    * element — that was the whole q_minhash_lsh budget at sf0.1). */
  def minhashSignatures(docs: DataFrame, k: Int): DataFrame = {
    val mins = (0 until k).map(i => element_at(col("__sigs"), i + 1).as(s"mh$i"))
    shingleArrays(docs)
      .filter(size(col("shingles")) > 0) // docs with no shingle have no sig
      .select(col("doc_id"), gfn.minhash_sigs(col("shingles"), k).as("__sigs"))
      .select(col("doc_id") +: mins: _*)
  }

  /** MinHash-LSH candidate pairs: band signatures (rows-per-band hashes
    * concatenated) bucket the corpus; docs sharing any band bucket are
    * candidates. k=6, bands of 2 → 3 bands. */
  def minhashLshPairs(docs: DataFrame, k: Int = 6, rowsPerBand: Int = 2,
                      maxBandDf: Long = DefaultMaxBucketDf): DataFrame = {
    // fail fast instead of silently computing (and paying for) k hashes
    // while banding only the first k - k % rowsPerBand of them
    require(k > 0 && rowsPerBand > 0 && k % rowsPerBand == 0,
      s"k=$k must be a positive multiple of rowsPerBand=$rowsPerBand — " +
        "trailing signature hashes would otherwise never bucket anything")
    // the signature table (k salted md5 minima per doc) is the cached base;
    // its bands posexplode in one pass (a per-band union would recompute
    // the k signature hashes once PER BAND)
    val bandCols = (0 until k / rowsPerBand).map { bnd =>
      concat((0 until rowsPerBand).map(r => col(s"mh${bnd * rowsPerBand + r}")): _*)
    }
    candidatePairs(minhashSignatures(docs, k), maxBandDf, "band", "sig")(
      _.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "sig"))))(
      _.joined.select("a", "b").distinct())
  }

  /** Near-dup CLUSTERS from a pair list: connected components by HashMin
    * label propagation — every doc in a component labels itself with the
    * component's MINIMUM doc_id (the canonical keeper). This is the step
    * an actual dedup pipeline runs after candidate-pair generation:
    * near-duplication is transitive in practice (A≈B≈C), so keeping
    * "one of each pair" over-deletes; clusters give one keeper per
    * component.
    *
    * Scale shape: label propagation is the standard shared-nothing CC —
    * per iteration one join + one map-side-combinable min-aggregate, all
    * hash-partitioned on the vertex id, converging in O(component
    * diameter) rounds. Near-dup components are tiny and shallow (they
    * are near-cliques of a document neighborhood), so the loop runs 2-4
    * rounds even at 10¹¹ docs; a giant chain-shaped component would be a
    * data bug, and the `maxIters` guard turns it into an error instead
    * of an unbounded driver loop. EAGER (object scaladoc): returns a
    * localCheckpoint, intermediates released. */
  def dupClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val p = pairs.select(col("a"), col("b")).persist()
    // undirected: propagate labels across both directions of every pair
    val edges = p.unionByName(p.select(col("b").as("a"), col("a").as("b")))
      .persist()
    var labels = edges.select(col("a").as("v")).distinct()
      .withColumn("label", col("v")).persist()
    // `labels` lifecycle bookkeeping (ADVICE r5 #5): a localCheckpoint'd
    // generation is NOT in the CacheManager (unpersist on it is a no-op;
    // its blocks live until the ContextCleaner GCs the RDD). The persisted
    // generations that follow keep their LINEAGE rooted at it, and that
    // lineage IS the strong reference — the live `labels` plan chain holds
    // the checkpointed RDD reachable until the next localCheckpoint
    // truncates it, so an evicted cache partition can always recompute.
    // Persisted (non-checkpointed) generations are unpersisted normally.
    var labelsCheckpointed = false
    var changed = 1L
    var iters = 0
    while (changed > 0) {
      iters += 1
      require(iters <= maxIters,
        s"dupClusters did not converge in $maxIters rounds — component " +
          "diameter exceeds the near-dup assumption; inspect the pair graph")
      val neigh = edges.toDF("dst", "src")
        .join(labels.toDF("src", "l"), "src")
        .select(col("dst").as("v"), col("l").as("label"))
      val next0 = labels.unionByName(neigh)
        .groupBy("v").agg(min("label").as("label"))
      // CUT LINEAGE every few rounds: `labels` feeds both the join and the
      // union, so the logical plan DOUBLES per iteration — a deep
      // chain-shaped component (OpsSpec pins a 12-round chain) built a
      // 2^iters-node plan that OOM'd the driver in plan explain before
      // any executor ran. persist() caches data but keeps the plan;
      // localCheckpoint drops it (same cadence idea as the crawler's
      // compactEvery).
      val checkpointNow = iters % 4 == 0
      val next = if (checkpointNow) next0.localCheckpoint(true)
                 else next0.persist()
      // this count materializes every partition of `next` (inner join
      // reads it in full), so the producer generation can be released
      changed = next.toDF("v", "nl").join(labels, "v")
        .filter(col("nl") =!= col("label")).count()
      if (!labelsCheckpointed) labels.unpersist()
      labelsCheckpointed = checkpointNow
      labels = next
    }
    val out = labels
      .select(col("v").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
      .localCheckpoint(true)
    if (!labelsCheckpointed) labels.unpersist()
    edges.unpersist(); p.unpersist()
    out
  }

  /** SimHash near-dup fingerprints. `portable=true` (default) hashes tokens
    * with md5-lower-64 so the DuckDB oracle recomputes the fingerprint
    * bit-exactly; `portable=false` uses the faster xxhash64 kernel
    * (production default at scale — same plan shape, fixture-tested). */
  def simhashes(docs: DataFrame, portable: Boolean = true): DataFrame =
    spread(docs).select(col("doc_id"), simhashOf(portable).as("simhash")).orderBy("doc_id")

  private def simhashOf(portable: Boolean): Column =
    if (portable) gfn.simhash_md5(wsTokens(col("text"))) else gfn.simhash(wsTokens(col("text")))

  /** SimHash near-dup pairs within Hamming distance `maxHamming`, bucketed
    * by `maxHamming + 1` bit-blocks: two fingerprints differing in ≤ h bits
    * must agree EXACTLY on at least one of h+1 disjoint blocks (pigeonhole
    * — h differing bits cannot touch all h+1 blocks), so candidate
    * generation is complete for the promised radius and the self-join is
    * block-bucket-bounded instead of O(n²). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   portable: Boolean = true,
                   maxBucketDf: Long = DefaultMaxBucketDf): DataFrame =
    simhashPairsFromFps(spread(docs).select(col("doc_id"), simhashOf(portable).as("sh")),
      maxHamming, maxBucketDf)

  /** The simhash family's candidate join and verify step: one (q, bucket)
    * key per `keyCols` entry per fingerprint, posexploded in ONE pass (a
    * per-block union would recompute the fingerprint PER BLOCK); a pair
    * sharing several keys is verified once, kept at `hamming` ≤ maxHamming. */
  private def simhashKeyPairs(sims: DataFrame, keyCols: Seq[Column], hamming: Column,
                              maxHamming: Int, maxBucketDf: Long): DataFrame =
    candidatePairs(sims, maxBucketDf, "q", "bucket")(
      _.select(col("doc_id"), col("sh"),
        posexplode(array(keyCols: _*)).as(Seq("q", "bucket"))))(
      _.joined.select(col("a"), col("b"), hamming.cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming") <= maxHamming))

  private def xorHamming: Column = bit_count(col("sha").bitwiseXOR(col("shb")))

  /** `nBlocks` disjoint bit-blocks of the 64-bit fingerprint `sh`. */
  private def blocks64(nBlocks: Int): IndexedSeq[Column] = {
    val starts = (0 to nBlocks).map(i => i * 64 / nBlocks)
    (0 until nBlocks).map { q =>
      val width = starts(q + 1) - starts(q)
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      shiftright(col("sh"), starts(q)).bitwiseAND(lit(mask))
    }
  }

  /** [[simhashPairs]] over precomputed fingerprints (doc_id, sh LONG) —
    * the block-bucketed candidate join, unit-testable at the bit level. */
  def simhashPairsFromFps(sims: DataFrame, maxHamming: Int,
                          maxBucketDf: Long = DefaultMaxBucketDf): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming=$maxHamming")
    simhashKeyPairs(sims, blocks64(maxHamming + 1), xorHamming, maxHamming, maxBucketDf)
  }

  /** winnowing fingerprint overlap pairs. `portable=true` uses md5 k-gram
    * hashes (DuckDB-oracle-matched); false uses the rolling-hash kernel.
    * As in [[jaccardPairs]], a capped hot fingerprint never deflates the
    * `shared` count of a surviving pair ([[sharedKeyCounts]]). */
  def winnowPairs(docs: DataFrame, minShared: Int,
                  portable: Boolean = true,
                  maxFpDf: Long = DefaultMaxBucketDf): DataFrame = {
    val fpsExpr = if (portable) gfn.winnow_md5(col("text"), lit(8), lit(4))
                  else gfn.winnow_fingerprints(col("text"), lit(8), lit(4))
    // cached base: the per-doc fingerprint array (a full rolling-hash pass);
    // its per-doc count bounds df(fp), the exploded postings' would not
    candidatePairs(spread(docs).select(col("doc_id"), fpsExpr.as("fps")), maxFpDf, "fp")(
      _.select(col("doc_id"), explode(col("fps")).as("fp")))(
      sharedKeyCounts(_, "fp", "shared").filter(col("shared") >= minShared))
  }

  /** [[simhashPairsFromFps]] upgraded for web-scale corpora: bucket by
    * PAIRS of blocks. With b = maxHamming + 2 disjoint blocks, ≤ h
    * differing bits leave at least TWO blocks identical (pigeonhole), so
    * every qualifying pair shares at least one (block_i, block_j) key.
    * C(b,2) keys of ~2·(64/b) bits each: for h=6 that is 28 keys of ~16
    * bits vs 7 keys of ~9 bits — ~500× more buckets, pushing the
    * hot-bucket ceiling from ~10⁹ to ~10¹¹ docs before the df cap starts
    * trading recall, at 4× the candidate-row cost. Same exact output. */
  def simhashPairsFromFpsTwoStage(sims: DataFrame, maxHamming: Int,
                                  maxBucketDf: Long = DefaultMaxBucketDf): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 62, s"maxHamming=$maxHamming")
    val block = blocks64(maxHamming + 2)
    // both block values packed into one 64-bit key (widths ≤ 32)
    val pairKeys = for { i <- block.indices; j <- i + 1 until block.size }
      yield shiftleft(block(i), 32).bitwiseOR(block(j))
    simhashKeyPairs(sims, pairKeys, xorHamming, maxHamming, maxBucketDf)
  }

  /** Bit-slice [lo, lo+width) of an ARRAY<LONG> sketch as a LONG (little-
    * endian global bit order: bit k lives in word k/64 at position k%64 —
    * matching [[graft.functions.TextExprImpl.srpSketchN]]). Width ≤ 64;
    * the off==0 guard below matters because JVM long shifts are mod-64
    * (shiftleft(w, 64) would be a no-op, not zero). */
  private def sliceBitsWide(sh: Column, lo: Int, width: Int): Column = {
    require(width >= 1 && width <= 64, s"width=$width")
    val word = lo / 64
    val off = lo % 64
    val mask = if (width >= 64) -1L else (1L << width) - 1L
    val w0 = shiftrightunsigned(element_at(sh, word + 1), off)
    val c = if (off == 0 || off + width <= 64) w0
            else w0.bitwiseOR(shiftleft(element_at(sh, word + 2), 64 - off))
    c.bitwiseAND(lit(mask))
  }

  /** [[simhashPairsFromFps]] / [[simhashPairsFromFpsTwoStage]] generalized
    * to WIDE (`nbits` = n×64) ARRAY<LONG> sketches — the candidate join
    * behind the research-threshold branch of [[cosineDupPairsLsh]].
    *
    * Stage choice is automatic from the block geometry: block-PAIR keys
    * (h+2 blocks, completeness: ≤ h differing bits leave ≥ 2 blocks clean)
    * when a pair key keeps ≥ 7 bits — the hot-bucket-ceiling regime; else
    * single-block keys (h+1 blocks, ≥ 1 clean block). At guaranteed-recall
    * radii for LOW thresholds the blocks are 1-2 bits wide whichever way
    * they are cut — that is not an implementation defect but the
    * information-theoretic position of the problem (boundary pairs differ
    * in ~θ/π of ALL bits, so exact-match keys must be narrow to survive
    * h errors) — and there single-block keys are strictly cheaper:
    * C(h+2,2) pair keys of ~2 widths would multiply the candidate volume
    * ~h/4-fold over h+1 single keys for zero extra selectivity.
    * Completeness (recall 1.0 within the radius) holds for BOTH stagings
    * by pigeonhole; hamming verification is the codegen'd
    * [[gfn.hamming_words]]. Bucket keys are (q, bucket-value) structs,
    * df-capped with WARNs like every other pairwise join here. */
  def simhashPairsFromFpsWide(sims: DataFrame, nbits: Int, maxHamming: Int,
                              maxBucketDf: Long = DefaultMaxBucketDf): DataFrame = {
    require(nbits % 64 == 0 && nbits >= 64, s"nbits=$nbits")
    require(maxHamming >= 1 && maxHamming <= nbits - 2, s"maxHamming=$maxHamming")
    val twoStage = 2 * nbits / (maxHamming + 2) >= 7 // pair-key width
    // clamp the block count so every block fits sliceBitsWide's 64-bit
    // slice (e.g. nbits=256, maxHamming=1 would otherwise ask for 85-bit
    // blocks and throw). EXTRA blocks are always completeness-safe: with
    // b blocks and ≤ h differing bits at least b−h blocks are identical,
    // so raising b only widens the pigeonhole margin (more candidates).
    val baseBlocks = if (twoStage) maxHamming + 2 else maxHamming + 1
    val nBlocks = math.max(baseBlocks, nbits / 64)
    val starts = (0 to nBlocks).map(i => i * nbits / nBlocks)
    def block(q: Int): Column =
      sliceBitsWide(col("sh"), starts(q), starts(q + 1) - starts(q))
    val keyCols: Seq[Column] =
      if (twoStage)
        for { i <- 0 until nBlocks; j <- i + 1 until nBlocks }
          yield struct(block(i).as("b1"), block(j).as("b2"))
      else
        (0 until nBlocks).map(q => struct(block(q).as("b1"), lit(0L).as("b2")))
    simhashKeyPairs(sims, keyCols, gfn.hamming_words(col("sha"), col("shb")),
      maxHamming, maxBucketDf)
  }

  /** int8 max-abs quantization of the embedding column — the standard
    * 4× storage/bandwidth cut before ANN indexing at 100 TB scale. Pure
    * row-local array transform (zero shuffle); per-vector scale =
    * max |x| (floored at 1e-12 against all-zero vectors); values round
    * half-away-from-zero to [-127, 127].
    *
    * Rounding parity is PINNED, not corpus-lucky (r3 ADVICE):
    *  - the display `scale` uses [[gfn.round_exact]] (floor-scaled
    *    half-up — see ExprImpl.roundExact's scaladoc for why that is the
    *    one semantics both engines share); the oracle mirrors it
    *    bit-identically with `FLOOR(scale * 1e6 + 0.5) / 1e6`;
    *  - the integer codes keep plain `round(…, 0)`: at 0 dp Spark's
    *    shortest-repr HALF_UP and DuckDB's exact-binary half-away agree
    *    for EVERY double — k.5 IS exactly representable, so a shortest
    *    repr and its exact value can never straddle a .5 boundary, and
    *    both engines round exact halves away from zero. */
  def quantizeEmbeddings(emb: DataFrame): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val scale = greatest(array_max(transform(v, x => abs(x))), lit(1e-12))
    emb.select(col("vec_id"),
        gfn.round_exact(scale, 6).as("scale"),
        concat_ws(",",
          transform(v, x =>
            least(greatest(round(x * lit(127.0) / scale, 0), lit(-127.0)),
              lit(127.0)).cast("int"))).as("codes"))
      .orderBy("vec_id")
  }

  // ------------------------------------------------------------------
  // similarity search over embeddings
  // ------------------------------------------------------------------

  // codegen'd index-order dot product (round 7, guide §4): the previous
  // `aggregate(zip_with(a, b, _*_), 0.0, _+_)` form evaluated its lambdas
  // INTERPRETED per element and was the dominant CPU of every cosine op;
  // gfn.dot_product is bit-identical (same left fold, same IEEE sequence,
  // same null semantics — TextExprImpl.dotProduct scaladoc).
  private def dot(a: Column, b: Column): Column = gfn.dot_product(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** exact embedding-cosine near-dup pairs (cos ≥ threshold): brute-force
    * all-pairs — the O(n²) exactness anchor, DuckDB-oracle-matched. Both
    * sides filter on the ROUNDED cosine so boundary values agree. For
    * corpora past ~10⁶ vectors use [[cosineDupPairsLsh]]. */
  def cosineDupPairsExact(emb: DataFrame, threshold: Double): DataFrame = {
    val e = spread(emb).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val a = e.toDF("a", "va")
    val b = e.toDF("b", "vb")
    a.crossJoin(b).filter(col("a") < col("b"))
      .withColumn("cos", gfn.round_exact(dot(col("va"), col("vb")) /
        (norm(col("va")) * norm(col("vb"))), 4))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
      .orderBy("a", "b")
  }

  /** Hamming radius for [[cosineDupPairsLsh]] AUTO-CALIBRATED from the
    * cosine threshold (round-5: a fixed radius was measured leaking 0.25%
    * of pairs at the threshold boundary — the radius must be a function of
    * the threshold, not a constant). For a 64-bit SRP sketch and a pair at
    * angle θ, each bit differs independently with p = θ/π, so hamming ~
    * Binomial(64, p): mean 64p, σ = √(64p(1−p)). The radius covers the
    * WORST admissible pair (cos exactly = threshold) at `sigmas` standard
    * deviations — default 4σ ⇒ per-pair miss ≈ 3×10⁻⁵ at the boundary and
    * vanishing for anything deeper in the band. Capped at 31: past h ≈ 31
    * the h+2 pigeonhole blocks hold ≤ 2 bits and every bucket collapses
    * into one (the round-2 failure mode) — thresholds that low (cos ≲ 0.5)
    * are research territory where candidates ≈ all pairs anyway; pass an
    * explicit radius there. Larger radii also widen buckets (fewer bits
    * per block key): for ≥10⁷-vector corpora watch the df-cap WARNs and
    * consider an explicit radius or a higher threshold. */
  def srpRadiusFor(threshold: Double, sigmas: Double = 4.0): Int =
    math.min(31, srpRadiusForN(threshold, 64, sigmas))

  /** [[srpRadiusFor]] generalized to an `nbits`-wide SRP sketch: hamming ~
    * Binomial(nbits, θ/π) at the threshold boundary, radius = mean +
    * `sigmas`·σ. NOT capped at the 64-bit pigeonhole bound — the caller
    * picks the sketch width precisely because the 64-bit cap is the thing
    * being escaped; only a sanity clamp to [1, nbits−2] (the blocked join
    * needs ≥ 2 blocks). Wide sketches shrink σ/mean ∝ 1/√nbits, so the
    * guaranteed-recall radius moves toward the boundary mean as bits grow —
    * 0.4 ⇒ 40 (uncapped) at 64 bits but 70/128 = 0.55·nbits at 128 bits vs
    * 0.63·nbits at 64. The honest limit: block WIDTH nbits/(radius+2) tends
    * to 1/(θ/π+ε) ≈ 2.7 bits regardless of nbits, so at research thresholds
    * blocked candidate generation is inherently near-all-pairs — see
    * [[cosineDupPairsLsh]]'s scaladoc for the full cost argument. */
  def srpRadiusForN(threshold: Double, nbits: Int, sigmas: Double = 4.0): Int = {
    require(nbits >= 16, s"nbits=$nbits")
    val theta = math.acos(math.min(math.max(threshold, -1.0), 1.0))
    val p = theta / math.Pi
    val mean = nbits * p
    val sigma = math.sqrt(nbits * p * (1.0 - p))
    math.min(nbits - 2, math.max(1, math.ceil(mean + sigmas * sigma).toInt))
  }

  /** approximate embedding-cosine near-dup pairs at scale: sign-random-
    * projection sketches (angular distance θ maps to expected Hamming
    * nbits·θ/π), candidates from the pigeonhole block self-join of the
    * sketches, exact cosine verification on the candidates only.
    * `maxHamming ≤ 0` (the default) auto-calibrates the radius from the
    * threshold via [[srpRadiusFor]] / [[srpRadiusForN]] — e.g. threshold
    * 0.9 ⇒ radius 21 of 64, which hash-matches the exact oracle at the
    * band BOTTOM (cos 0.9165) where the old fixed 16 measured 1995/2000.
    *
    * Sketch WIDTH (`bits`, 0 = auto) is the round-6 generalization that
    * closed the research-threshold recall gap: when the 4σ radius fits
    * under the 64-bit pigeonhole collapse bound 31 (thresholds ≳ 0.62 —
    * every production dedup regime), the proven 64-bit two-stage path
    * runs unchanged and is bucket-bounded, never O(n²). Below that
    * (research thresholds like 0.4, where 64-bit radius 31 measured
    * 893/920 recall at sf0.1), a 128-bit sketch halves the relative σ so
    * a guaranteed 4σ radius EXISTS (srpRadiusForN(0.4, 128) = 70 vs an
    * uncappable 40/64) and recall 1.0 is restored. The honest cost
    * statement for that regime: boundary pairs differ in ~θ/π ≈ 37% of
    * ALL sketch bits, so complete blocked keys are 1-2 bits wide and
    * candidates approach all-pairs — widening the sketch buys guaranteed
    * recall, not sub-quadratic candidates (no exact-match banding can;
    * at 10⁷+ vectors use the production threshold or accept sampling).
    * The 64-bit production branch's scale story is unchanged. */
  def cosineDupPairsLsh(emb: DataFrame, threshold: Double,
                        maxHamming: Int = -1,
                        maxBucketDf: Long = DefaultMaxBucketDf,
                        bits: Int = 0): DataFrame = {
    val width = if (bits > 0) bits
                else if (srpRadiusForN(threshold, 64) <= 31) 64 else 128
    val radius = if (maxHamming > 0) maxHamming
                 else if (width == 64) srpRadiusFor(threshold)
                 else srpRadiusForN(threshold, width)
    // no persist on the vector table: it has three consumers, but at the
    // 10⁶+-vector scale this path exists for, re-reading the source (with
    // column pruning) is the right trade — caching the full corpus is the
    // thing that does NOT survive a 100× scale-up, and a persist here was
    // the round-2 ADVICE leak (never unpersisted in a long-lived session)
    val e = spread(emb).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    // TWO-STAGE block-pair candidate keys (round-2 ADVICE) on the 64-bit
    // branch: single-block pigeonhole keys at h=16 are only 64/17 ≈ 3-4
    // bits wide, so typical per-bucket df ≈ n/13 crosses the df cap near
    // n ≈ 10⁶ and capping would silently erase recall exactly at the
    // advertised scale. Block PAIRS give C(h+2,2) keys of ~2·(64/(h+2))
    // bits (h=16: 153 keys of ~7 bits vs 17 of ~3.7) — per-bucket df ≈
    // n/128, pushing the capping ceiling past 10⁷ vectors per cap unit,
    // at ~4× candidate-row cost. Completeness is unchanged (≤ h differing
    // bits leave ≥ 2 of the h+2 blocks untouched), and capHotKeys WARNS
    // when it drops keys. The wide branch delegates the same stage choice
    // to simhashPairsFromFpsWide's block geometry.
    val cands =
      if (width == 64) {
        val fps = e.select(col("vec_id").as("doc_id"), gfn.srp_sketch(col("v")).as("sh"))
        simhashPairsFromFpsTwoStage(fps, radius, maxBucketDf)
      } else {
        val fps = e.select(col("vec_id").as("doc_id"),
          gfn.srp_sketch_n(col("v"), width / 64).as("sh"))
        simhashPairsFromFpsWide(fps, width, radius, maxBucketDf)
      }
    cands
      .join(e.select(col("vec_id").as("a"), col("v").as("va")), Seq("a"))
      .join(e.select(col("vec_id").as("b"), col("v").as("vb")), Seq("b"))
      .withColumn("cos", gfn.round_exact(dot(col("va"), col("vb")) /
        (norm(col("va")) * norm(col("vb"))), 4))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
      .orderBy("a", "b")
  }

  /** Measured ANN-quality gate (r5 verdict #2): per-query recall@k of
    * [[ivfCosineTopK]] at its production `nprobe` against the exact
    * brute-force top-k, emitted as DATA — (query_id, recall, floor_met) —
    * so the correctness harness hashes the approximate operator's quality
    * against a pinned expectation instead of carrying a `no_oracle` null
    * row. Determinism: both sides are deterministic on fixed data (ties
    * broken by vec_id, Lloyd seeded from label means), so the measured
    * recall is a stable function of the corpus; the oracle pins it. */
  def ivfRecallGate(emb: DataFrame, queryIds: Seq[Long], k: Int,
                    nprobe: Int = 3, lloydIters: Int = 3,
                    floor: Double = 0.9): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val ivf = ivfCosineTopK(emb, queryIds, k, nprobe, lloydIters)
      .select(col("query_id"), col("neighbor"))
    val exact = bruteForceCosineTopK(emb, queryIds, k)
      .select(col("query_id"), col("neighbor"))
    val hits = ivf.join(exact, Seq("query_id", "neighbor"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    // left join from the id list so a hypothetical 0-recall query still
    // emits a (visible, failing) row instead of vanishing
    queryIds.toDF("query_id")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        gfn.round_exact(
          coalesce(col("hits"), lit(0L)).cast("double") / k, 4).as("recall"),
        (coalesce(col("hits"), lit(0L)).cast("double") / k >= floor)
          .as("floor_met"))
      .orderBy("query_id")
  }

  /** brute-force cosine top-k: every query vector scored against the whole
    * table (the exact baseline an ANN variant must approximate). The query
    * side is broadcast; the scan side never shuffles. */
  def bruteForceCosineTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val e = spread(emb).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = e.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", gfn.round_exact(dot(col("v"), col("qv")) /
        (norm(col("v")) * norm(col("qv"))), 4))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor"), col("cos"))
      .orderBy("query_id", "rnk")
  }

  /** IVF-style ANN with REAL k-means coarse cells: per-label means seed
    * the centroids (deterministic, better than random at this corpus),
    * then `lloydIters` Lloyd iterations run as DataFrame aggregations —
    * assignment via a broadcast-centroid crossJoin + map-side-combinable
    * `max_by` (no window over the full corpus), update via
    * posexplode→avg→reassemble. A query probes only the `nprobe` nearest
    * cells. Returns the brute-force shape; recall is fixture-tested
    * against the exact baseline (OpsSpec).
    *
    * EAGER (see the object scaladoc): runs the full k-means + search on
    * call and returns a ≤ |queryIds|·k-row LocalRelation, so the three
    * internal caches release before returning. */
  def ivfCosineTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
                    nprobe: Int = 3, lloydIters: Int = 3): DataFrame = {
    val e = spread(emb).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v")).persist()

    def meanByCell(assigned: DataFrame): DataFrame =
      assigned.select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("cell", "i").agg(avg("x").as("m"))
        .groupBy("cell")
        .agg(transform(sort_array(collect_list(struct(col("i"), col("m")))),
          s => s.getField("m")).as("cv"))

    // seed: element-wise mean per label
    var cent = meanByCell(e.select(col("label").as("cell"), col("v")))

    // Lloyd: assign every vector to its max-cosine centroid, re-average.
    // One crossJoin row per (vector, centroid) — centroids are tiny and
    // broadcast; the argmax is an aggregation, not a global window.
    def assign(c: DataFrame): DataFrame =
      e.crossJoin(broadcast(c))
        .withColumn("sim", dot(col("v"), col("cv")) /
          (norm(col("v")) * norm(col("cv"))))
        .groupBy("vec_id")
        .agg(max_by(col("cell"), struct(col("sim"), -col("cell"))).as("cell"))
        .join(e.select("vec_id", "v"), Seq("vec_id"))

    for (_ <- 1 to lloydIters) cent = meanByCell(assign(cent))
    val cells = cent.persist()
    val assigned = assign(cells).select("vec_id", "cell").persist()

    val q = e.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))

    // pick nprobe closest cells per query (tiny: #cells × #queries)
    val wCell = Window.partitionBy("query_id").orderBy(desc("csim"), asc("cell"))
    val probed = q.crossJoin(broadcast(cells))
      .withColumn("csim", dot(col("qv"), col("cv")) /
        (norm(col("qv")) * norm(col("cv"))))
      .withColumn("r", row_number().over(wCell))
      .filter(col("r") <= nprobe)
      .select("query_id", "qv", "cell")

    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    val result = e.join(assigned, Seq("vec_id"))
      .join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", gfn.round_exact(dot(col("v"), col("qv")) /
        (norm(col("v")) * norm(col("qv"))), 4))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor"), col("cos"))
      .orderBy("query_id", "rnk")
    // ≤ |queryIds|·k rows — materialize as a LocalRelation so all three
    // intermediate caches release immediately (the Searcher.search pattern;
    // repeated ANN calls in a serving session must not accumulate caches)
    val rows = result.collect()
    val spark = emb.sparkSession
    e.unpersist(); cells.unpersist(); assigned.unpersist()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }
}
