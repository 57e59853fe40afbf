package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, gfn}
import graft.crawler.{CrawlConfig, Crawler}
import graft.index.Indexer
import graft.oracle.ReferenceOracle
import graft.rank.{PageRankSpark, Searcher}
import graft.snapshot.{RoundMetrics, SnapshotLog}
import graft.sources.PagesTable

/** Everything one run shares: session, options, tracer and the result. */
final class Ctx(val spark: SparkSession, val opts: Main.Opts, val tracer: Tracer,
                val res: Result) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val work: Path = Files.createDirectories(opts.out.resolve("work"))
  private val t0 = System.nanoTime()
  def deadlinePassed(startNs: Long): Boolean =
    System.nanoTime() - startNs >= (opts.seconds * 1e9).toLong
  /** Progress line in the run's JVM log. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%8.2f s  $name")
}

/** Measured values and check outcomes of one run; written as JSON. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var wrong = 0L
  var unexpected = 0L
  var setupDoneEpochMs = 0L
  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def reported(name: String, v: Double, unit: String): Unit = report(name) = (v, unit)
  /** A checked output: counts one attempt, and a failure when wrong. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; wrong += 1; notes += s"MISMATCH $what" }
  }
}

object Stats {
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def secs(ns: Long): Double = ns / 1e9

  /** Heap in use right after a full collection, in MB: what the run still
    * holds, independent of when the collector last ran. The first collection
    * lets Spark's ContextCleaner drop the blocks of unreachable broadcasts
    * and shuffles; the second collects them. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Order-independent digest of a URL set: (count, sum of 64-bit hashes). */
object Digest {
  private def h(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val lo = scala.util.hashing.MurmurHash3.bytesHash(b, 0x1234)
    val hi = scala.util.hashing.MurmurHash3.bytesHash(b, 0x5678)
    (hi.toLong << 32) ^ (lo.toLong & 0xffffffffL)
  }
  def of(urls: Iterable[String]): (Long, Long) =
    (urls.size.toLong, urls.foldLeft(0L)((a, u) => a + h(u)))
  def ofSeen(seen: DataFrame): (Long, Long) =
    of(seen.select("url").collect().map(_.getString(0)))
}

object Workloads {
  import Stats._

  val all: Map[String, Ctx => Unit] = Map(
    "index-serve" -> indexServe,
    "dedup-ops" -> dedupOps)

  /** Engine layers that run Spark jobs; each gets the common counter set. */
  val sparkLayers = Seq("crawler", "index", "pagerank", "searcher", "ops")

  // ------------------------------------------------------------ index-serve

  /** Serve corpus: pages over Zipf-sized hosts (ServeCorpus). */
  val servePages = 800
  val serveHosts = 6
  val serveVocab = 5000
  val prIters = 40

  /** The governed crawl: the per-host budget bites on the hottest hosts, so
    * politeness waves add rounds; robots are honoured; the bloom engages
    * once the seen set passes a quarter of the corpus; the first
    * `crawlRounds` rounds run, then `Crawler.resume` continues from the
    * snapshot in `dir` to the end. */
  val hostBudget = 200
  val crawlRounds = 2
  private def crawlCfg(dir: Path) = CrawlConfig(
    Seq(ServeCorpus.seedUrl), ServeCorpus.filter, hostBudget = hostBudget,
    respectRobots = true, bloomMinSeen = servePages / 4L,
    maxRounds = crawlRounds, workDir = Some(dir.toString))

  private def dirStats(dir: Path): (Long, Int) = {
    val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toVector
    (files.map(Files.size).sum, files.size)
  }

  /** Per-round child spans of a crawl span, from the rounds' wall times. */
  private def roundSpans(c: Ctx, parent: Option[Span], rs: Vector[RoundMetrics]): Unit =
    parent.foreach { p =>
      var at = p.startNs
      rs.foreach { r =>
        val end = at + r.wallMillis * 1000000L
        c.tracer.derived(p.id, "crawler", s"round ${r.round}", at, end,
          "seen_total" -> r.seenTotal.toString, "new_seen" -> r.newSeen.toString,
          "selected" -> r.selected.toString)
        at = end
      }
    }

  /** Direct calls of the html/text Catalyst expressions over the pages. */
  private def exprProbes(c: Ctx, pages: DataFrame, n: Long): Unit = {
    def rate(layer: String, name: String, agg: org.apache.spark.sql.Column): Double = {
      val s = System.nanoTime()
      c.tracer.span(layer, name)(pages.agg(agg).collect())
      n / secs(System.nanoTime() - s)
    }
    c.res.metric("html.extract_links_pages_per_s", rate("html", "extract_links",
      sum(size(gfn.extract_links(col("html"), col("url"), lit(ServeCorpus.filter),
        lit(true))))), "1/s")
    c.res.metric("html.extract_text_pages_per_s", rate("html", "extract_text",
      sum(length(gfn.extract_text(col("html"))))), "1/s")
    c.res.metric("text.tokenize_pages_per_s", rate("text", "tokenize_words",
      sum(size(gfn.tokenize_words(col("text"))))), "1/s")
  }

  final case class Serve(cls: String, query: String, ns: Long, ok: Boolean,
                         err: Option[String], rows: Array[Row])

  private def indexServe(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val seed = c.opts.seed
    val t = c.tracer
    val gen = ServeCorpus.generate(ServeCorpus.Shape(servePages, serveHosts, serveVocab, seed))
    PagesTable.writeBucketed(gen.pages.toDF(), "serve_pages",
      c.work.resolve("serve_pages").toString, c.cores * 2)
    val pages = PagesTable.readBucketed(spark, "serve_pages")
    val pools = ServeCorpus.queryPools(gen, seed, 8)
    c.phase("pages written")

    // first answer, in a fresh JVM, which is also the JIT and codegen
    // warm-up (so it ends the set-up): crawl, index, rank, prepare, and one
    // answered query of each class
    if (c.opts.trace) t.enable()
    val snapDir = c.work.resolve("snapshot")
    val s0 = System.nanoTime()
    val first = t.span("crawler", "Crawler.run")(Crawler.run(spark, pages, crawlCfg(snapDir)))
    val mid = System.nanoTime()
    val crawl = t.span("crawler", "Crawler.resume")(
      Crawler.resume(spark, pages, crawlCfg(snapDir).copy(maxRounds = Int.MaxValue)))
    val crawlEnd = System.nanoTime()
    roundSpans(c, t.last("crawler", "Crawler.run"), first.rounds)
    roundSpans(c, t.last("crawler", "Crawler.resume"), crawl.rounds)
    val rounds = (first.rounds ++ crawl.rounds).map(r => r.round -> r).toMap.values.toVector
    val seenCount = rounds.map(_.seenTotal).max
    // the snapshot layer, read from outside after the crawl
    val (snapBytes, snapFiles, manifests, manifestSeen) = t.span("snapshot", "SnapshotLog.read") {
      val log = new SnapshotLog(snapDir.toString)
      val (b, f) = dirStats(snapDir)
      (b, f, log.listIds.size, log.latest.map(_.seenCount).getOrElse(-1L))
    }
    val seen = crawl.seen
    val b0 = System.nanoTime()
    val idx = t.span("index", "Indexer.build") {
      val i = Indexer.build(spark, pages, seen, ServeCorpus.filter)
      i.postings.count(); i
    }
    val ranks = t.span("pagerank", "PageRankSpark.run") {
      val r = PageRankSpark.run(idx.links, idx.urlDict.select("url_id"), prIters).cache()
      r.count(); r
    }
    val p0 = System.nanoTime()
    val prep = t.span("searcher", "Searcher.prepare")(Searcher.prepare(idx, ranks))
    val prepNs = System.nanoTime() - p0
    val prepJobs = if (c.opts.trace) t.layerCounters("searcher").jobs else 0L
    val firstServes = ServeCorpus.classes.map(_._1)
      .map(cl => serveOne(c, prep, cl, pools(cl).head, -1))
    val end0 = System.nanoTime()
    c.res.setupDoneEpochMs = System.currentTimeMillis()
    c.phase("crawled, indexed, first serves answered")

    val serves = mutable.ArrayBuffer.empty[Serve]
    if (!c.opts.trace) {
      serves ++= closedLoop(c, prep, ServeCorpus.schedule(pools, seed, 1000), untilDeadline = true)
    } else {
      // tracing overhead: one block untraced and the same block traced, in
      // A-B-A order so JIT warm-up during the passes biases neither side
      val sched = ServeCorpus.schedule(pools, seed, 1)
      val half = sched.size / 2
      t.disable()
      val plainA = closedLoop(c, prep, sched.take(half), untilDeadline = false)
      t.enable()
      val jobsBefore = t.layerCounters("searcher").jobs
      val traced = closedLoop(c, prep, sched, untilDeadline = false)
      val jobsServe = t.layerCounters("searcher").jobs - jobsBefore
      t.disable()
      val plain = plainA ++ closedLoop(c, prep, sched.drop(half), untilDeadline = false)
      t.enable()
      exprProbes(c, pages, gen.pages.size.toLong)
      t.disable()
      serves ++= plain ++ traced
      val total = (xs: Seq[Serve]) => xs.map(_.ns).sum.toDouble
      c.res.metric("trace.overhead_share", total(traced) / total(plain) - 1, "ratio")
      layerMetrics(c)
      val crawler = t.layerCounters("crawler")
      c.res.metric("crawler.rounds", rounds.size, "count")
      c.res.metric("crawler.round_ms_max", rounds.map(_.wallMillis).max.toDouble, "ms")
      c.res.metric("crawler.input_bytes_per_url", crawler.inputBytes.toDouble / seenCount, "B")
      c.res.metric("crawler.resume_s", secs(crawlEnd - mid), "s")
      c.res.metric("snapshot.manifests", manifests, "count")
      c.res.metric("snapshot.files", snapFiles, "count")
      c.res.metric("snapshot.bytes", snapBytes.toDouble, "B")
      c.res.metric("index.docs", idx.n.toDouble, "count")
      c.res.metric("index.terms", idx.wordDict.count().toDouble, "count")
      c.res.metric("index.postings", idx.postings.count().toDouble, "count")
      c.res.metric("pagerank.edges", idx.links.count().toDouble, "count")
      c.res.metric("searcher.prepare_s", secs(prepNs), "s")
      c.res.metric("searcher.prepare_jobs", prepJobs.toDouble, "count")
      c.res.metric("searcher.jobs_per_query", jobsServe.toDouble / traced.size, "count")
      c.res.metric("searcher.failed", traced.count(!_.ok).toDouble, "count")
      val tracedLat = latencies(traced)
      ServeCorpus.classes.map(_._1).foreach { cl =>
        c.res.metric(s"searcher.${cl}_p50_ms",
          median(traced.indices.filter(traced(_).cls == cl).map(tracedLat)), "ms")
      }
    }
    c.phase(s"served ${serves.size}")
    if (!c.opts.trace) c.res.metric("retained_heap_mb", retainedHeapMb(), "MB")

    // checks, after the clock: the crawl reached the oracle's seen set (and
    // the snapshot manifest agrees), and every SERP equals the oracle's
    val oracleCrawl = ReferenceOracle.crawl(gen.pages,
      ReferenceOracle.CrawlParams(Seq(ServeCorpus.seedUrl), ServeCorpus.filter))
    c.res.check(Digest.ofSeen(seen) == Digest.of(oracleCrawl.seen),
      "crawl seen set (count, hash) != oracle")
    c.res.check(manifestSeen == seenCount,
      s"snapshot manifest seenCount $manifestSeen != crawl seenTotal $seenCount")
    val oIdx = ReferenceOracle.buildIndex(gen.pages, oracleCrawl.seen, ServeCorpus.filter)
    val oRanks = ReferenceOracle.pageRank(oIdx, prIters)
    val expected = mutable.HashMap.empty[String, Vector[(Int, ReferenceOracle.Scored)]]
    def want(q: String) = expected.getOrElseUpdate(q, ReferenceOracle.search(q, oIdx, oRanks, 50))
    (firstServes ++ serves).foreach { s =>
      c.res.attempted += 1
      if (!s.ok) {
        c.res.failed += 1
        val known = s.cls == "zero_len" && s.err.exists(_.contains("DIVIDE_BY_ZERO"))
        if (!known) {
          c.res.unexpected += 1
          c.res.notes += s"UNEXPECTED serve failure [${s.cls}] ${s.query}: ${s.err.getOrElse("")}"
        }
      } else if (!serpEquals(s.rows, want(s.query), oIdx)) {
        c.res.failed += 1; c.res.wrong += 1
        c.res.notes += s"MISMATCH serp [${s.cls}] ${s.query}"
      }
    }
    c.phase("checked")
    val knownFailed = (firstServes ++ serves).count(s => !s.ok && s.cls == "zero_len")
    if (knownFailed > 0) c.res.notes += s"known defect: $knownFailed zero_len serves " +
      "failed with DIVIDE_BY_ZERO (Searcher divides by a zero document length)"

    val timed = serves.toVector
    val lat = latencies(timed)
    val qps = timed.count(_.ok) / (timed.map(_.ns).sum / 2e9)
    if (!c.opts.trace) {
      c.res.metric("items_per_s", qps, "1/s")
      c.res.metric("op_p50_ms", median(lat), "ms")
    }
    c.res.reported("first_answer_s", secs(end0 - s0), "s")
    c.res.reported("crawl_urls_per_s", seenCount / secs(crawlEnd - s0), "1/s")
    c.res.reported("snapshot_bytes_per_url", snapBytes.toDouble / seenCount, "B")
    c.res.reported("index_build_s", secs(end0 - b0), "s")
    c.res.reported("serve_p50_ms", median(lat), "ms")
    c.res.reported("serve_p90_ms", pct(lat, 0.9), "ms")
    c.res.reported("serve_qps", qps, "1/s")
    c.res.reported("serves_timed", timed.size, "count")
    prep.close()
  }

  /** Serve latencies in ms. A failed serve misses any latency limit: it
    * counts as the whole window the two clients shared. */
  private def latencies(xs: Vector[Serve]): Vector[Double] = {
    val windowMs = xs.map(_.ns).sum / 2e6
    xs.map(s => if (s.ok) s.ns / 1e6 else windowMs)
  }

  private def serveOne(c: Ctx, p: Searcher.Prepared, cls: String, q: String, req: Int): Serve = {
    val s = System.nanoTime()
    try {
      val rows = c.tracer.span("searcher", "serve", "request_id" -> req.toString, "class" -> cls) {
        Searcher.search(c.spark, p, q).collect()
      }
      Serve(cls, q, System.nanoTime() - s, ok = true, None, rows)
    } catch {
      case e: Exception =>
        Serve(cls, q, System.nanoTime() - s, ok = false,
          Some(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .map(x => String.valueOf(x.getMessage)).mkString(" <- ")), Array.empty)
    }
  }

  /** Two clients, each sending its next query when the previous one has
    * returned. With `untilDeadline`, whole 20-query blocks are issued until
    * the run's seconds have passed; otherwise the whole schedule runs. */
  private def closedLoop(c: Ctx, p: Searcher.Prepared, sched: Vector[(String, String)],
                         untilDeadline: Boolean): Vector[Serve] = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Serve)]()
    val s0 = System.nanoTime()
    @volatile var stopAt = Int.MaxValue
    def client(): Unit = {
      var i = next.getAndIncrement()
      while (i < sched.size && i < stopAt) {
        if (untilDeadline && i % ServeCorpus.blockSize == 0 && i > 0 && c.deadlinePassed(s0))
          stopAt = math.min(stopAt, i)
        if (i < stopAt) {
          val (cls, q) = sched(i)
          out.add(i -> serveOne(c, p, cls, q, i))
        }
        i = next.getAndIncrement()
      }
    }
    val threads = Vector.fill(2)(new Thread(() => client()))
    threads.foreach(_.start()); threads.foreach(_.join())
    out.asScala.toVector.filter(_._1 < stopAt).sortBy(_._1).map(_._2)
  }

  private def serpEquals(rows: Array[Row], want: Vector[(Int, ReferenceOracle.Scored)],
                         o: ReferenceOracle.Index): Boolean = {
    def close(a: Double, b: Double) =
      (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 + 1e-9 * math.max(math.abs(a), math.abs(b))
    rows.length == want.size && rows.zip(want).forall { case (r, (rank, s)) =>
      r.getInt(0) == rank && r.getLong(1) == s.urlId &&
        r.getString(2) == o.urlsById(s.urlId.toInt) &&
        close(r.getDouble(3), s.total) && close(r.getDouble(4), s.cos) &&
        close(r.getDouble(5), s.pr) && close(r.getDouble(6), s.title) &&
        r.getString(7) == o.titles(s.urlId)
    }
  }

  // -------------------------------------------------------------- dedup-ops

  val dedupDocs = 1600
  val dedupOps = Seq("q_jaccard_pairs", "q_minhash_lsh", "q_simhash_pairs",
    "q_winnow_pairs", "q_dedup_clusters")

  private def dedupOps(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val docs = Documents.generate(Documents.Shape(dedupDocs, c.opts.seed))
    val dir = c.work.resolve("docs")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    val outDir = Files.createDirectories(c.opts.out.resolve("dedup"))
    c.phase("documents written")

    def call(op: String): (Long, Array[Row], org.apache.spark.sql.types.StructType) = {
      val s = System.nanoTime()
      val (rows, schema) = c.tracer.span("ops", op) {
        val df = SparkEntry.queries(op)(spark, dir.toString)
        (df.collect(), df.schema)
      }
      (System.nanoTime() - s, rows, schema)
    }
    // the first pass of a fresh JVM is the JIT and codegen warm-up (so it
    // ends the set-up); its outputs go to the DuckDB check, and every later
    // call must return exactly the same rows in the same order
    var firstNs = 0L
    val reference = dedupOps.map { op =>
      val (ns, rows, schema) = call(op)
      firstNs += ns
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(outDir.resolve(op).toString)
      op -> rows.toSeq
    }.toMap
    c.res.setupDoneEpochMs = System.currentTimeMillis()
    c.phase("first pass")

    val samples = mutable.ArrayBuffer.empty[(String, Long)]
    def pass(ops: Seq[String]): Unit = ops.foreach { op =>
      val (ns, rows, _) = call(op)
      samples += op -> ns
      c.res.check(rows.toSeq == reference(op), s"$op output differs from its first call")
    }
    if (!c.opts.trace) {
      // at least two passes, so that op_p50_ms is a median of 10 calls
      val s = System.nanoTime()
      while (samples.size < 2 * dedupOps.size || !c.deadlinePassed(s)) pass(dedupOps)
      c.res.metric("retained_heap_mb", retainedHeapMb(), "MB")
    } else {
      // tracing overhead: the ops untraced and traced, in A-B-A order so JIT
      // warm-up during the passes biases neither side
      pass(dedupOps.take(2))
      c.tracer.enable()
      pass(dedupOps)
      c.tracer.disable()
      pass(dedupOps.drop(2))
      val tracedNs = samples.slice(2, 2 + dedupOps.size).map(_._2).sum
      val plainNs = samples.map(_._2).sum - tracedNs
      c.res.metric("trace.overhead_share", tracedNs.toDouble / plainNs - 1, "ratio")
      layerMetrics(c)
      dedupOps.foreach { op =>
        c.res.metric(s"ops.${op}_s", secs(c.tracer.calls("ops").filter(_.name == op)
          .map(s => s.endNs - s.startNs).sum), "s")
      }
      c.res.metric("ops.pairs_out", Seq("q_jaccard_pairs", "q_minhash_lsh",
        "q_simhash_pairs", "q_winnow_pairs").map(reference(_).size).sum.toDouble, "count")
    }
    val timed = samples
    val docsPerS = dedupDocs * timed.size / secs(timed.map(_._2).sum)
    if (!c.opts.trace) {
      c.res.metric("items_per_s", docsPerS, "1/s")
      c.res.metric("op_p50_ms", median(timed.map(_._2 / 1e6).toSeq), "ms")
    }
    c.res.reported("first_answer_s", secs(firstNs), "s")
    val oracleSql = SparkEntry.oracleSql
    dedupOps.foreach(op => Files.writeString(outDir.resolve(s"$op.sql"), oracleSql(op)))
    c.res.reported("dedup_docs_per_s", docsPerS, "1/s")
    c.res.reported("dedup_op_calls", timed.size, "count")
    dedupOps.foreach(op => c.res.reported(s"calls.$op",
      timed.count(_._1 == op) + 1, "count"))
  }

  // --------------------------------------------------------- layer counters

  /** The common counter set of every Spark layer over its traced calls;
    * layers idle in this workload report zeros. */
  private def layerMetrics(c: Ctx): Unit =
    sparkLayers.foreach { l =>
      val a = c.tracer.layerCounters(l)
      val wall = secs(c.tracer.calls(l).map(s => s.endNs - s.startNs).sum)
      c.res.metric(s"$l.wall_s", wall, "s")
      c.res.metric(s"$l.jobs", a.jobs.toDouble, "count")
      c.res.metric(s"$l.stages", a.stages.toDouble, "count")
      c.res.metric(s"$l.tasks", a.tasks.toDouble, "count")
      c.res.metric(s"$l.task_run_s", a.runMs / 1e3, "s")
      c.res.metric(s"$l.task_cpu_s", a.cpuNs / 1e9, "s")
      c.res.metric(s"$l.gc_s", a.gcMs / 1e3, "s")
      c.res.metric(s"$l.busy_share", if (wall > 0) a.runMs / 1e3 / (wall * c.cores) else 0.0, "ratio")
      c.res.metric(s"$l.input_bytes", a.inputBytes.toDouble, "B")
      c.res.metric(s"$l.shuffle_read_bytes", a.shuffleReadBytes.toDouble, "B")
      c.res.metric(s"$l.shuffle_write_bytes", a.shuffleWriteBytes.toDouble, "B")
      c.res.metric(s"$l.shuffle_records", a.shuffleRecords.toDouble, "count")
      c.res.metric(s"$l.spill_bytes", a.spillBytes.toDouble, "B")
      c.res.metric(s"$l.output_bytes", a.outputBytes.toDouble, "B")
      c.res.metric(s"$l.failed_tasks", a.failedTasks.toDouble, "count")
    }
}
