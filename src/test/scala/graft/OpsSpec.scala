package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextExprImpl
import graft.ops.{Multimodal, TrainingOps => T}

class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def naiveSimhash(tokens: Seq[String], md5: Boolean): Long = {
    val counts = new Array[Int](64)
    tokens.foreach { t =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(t)
      val h = if (md5) TextExprImpl.md5Lower64(u) else TextExprImpl.hash64(u)
      (0 until 64).foreach { b =>
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1 }
    }
    (0 until 64).foldLeft(0L)((acc, b) => if (counts(b) > 0) acc | (1L << b) else acc)
  }

  test("dot_product expression ≡ the HOF aggregate/zip_with form it " +
       "replaced: bitwise-identical doubles, identical null semantics (r7)") {
    val rnd = new scala.util.Random(20260822L)
    val vecs: Seq[Seq[java.lang.Double]] = (0 until 50).map { _ =>
      Seq.fill(1 + rnd.nextInt(160))(
        java.lang.Double.valueOf((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(7) - 3)))
    } ++ Seq(
      Seq.empty[java.lang.Double],                 // empty × empty → 0.0
      Seq(java.lang.Double.valueOf(1.5), null),    // null element → NULL
      Seq(java.lang.Double.valueOf(2.5)))          // length mismatch (vs the 2-el row)
    val pairs = for { a <- vecs; b <- vecs } yield (a, b)
    val df = pairs.toDF("a", "b")
    val got = df.select(
        gfn.dot_product(col("a"), col("b")).as("fast"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v).as("hof"))
      .collect()
    got.zipWithIndex.foreach { case (r, i) =>
      val fNull = r.isNullAt(0); val hNull = r.isNullAt(1)
      assert(fNull == hNull, s"null-semantics divergence at pair $i: " +
        s"fast=${if (fNull) "NULL" else r.getDouble(0)} hof=${if (hNull) "NULL" else r.getDouble(1)}")
      if (!fNull)
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
               java.lang.Double.doubleToLongBits(r.getDouble(1)),
          s"bitwise divergence at pair $i: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("simhash expression == naive reference (both hash variants); near-dup property") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"), // near dup
      (2L, "completely different content about spark engines")).toDF("doc_id", "text")
    for (portable <- Seq(true, false)) {
      val got = T.simhashes(docs, portable).as[(Long, Long)].collect().toMap
      docs.collect().foreach { r =>
        val toks = r.getString(1).split(" ").filter(_.nonEmpty)
        assert(got(r.getLong(0)) == naiveSimhash(toks.toSeq, md5 = portable))
      }
      def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
      assert(hamming(got(0L), got(1L)) < hamming(got(0L), got(2L)))
    }
  }

  test("md5Lower64 == DuckDB md5_number_lower two's complement (pinned values)") {
    // pinned against `SELECT md5_number_lower('abc'), md5_number_upper('abc')`
    // in DuckDB 1.0.0: lower = last 8 digest bytes little-endian
    def h(s: String) =
      TextExprImpl.md5Lower64(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    assert(h("abc") == 8250560606382298838L)
    assert(java.lang.Long.toHexString(h("abc")) == "727fe1287d3f96d6")
  }

  test("simhash pairs finds the near-dup via block buckets") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappz"),
      (2L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val pairs = T.simhashPairs(docs, maxHamming = 16).as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L))
  }

  test("simhash block bucketing is COMPLETE for the promised radius " +
       "(distance-5 pair spanning all four old quarters must be found)") {
    // bits 2, 18, 34, 50, 60 touch every 16-bit quarter — the round-1
    // 4-quarter scheme missed this pair at maxHamming=6 (VERDICT.md #2)
    val base = 0x0123456789abcdefL
    val diff = base ^ ((1L << 2) | (1L << 18) | (1L << 34) | (1L << 50) | (1L << 60))
    assert(java.lang.Long.bitCount(base ^ diff) == 5)
    val fps = Seq((0L, base), (1L, diff), (2L, ~base)).toDF("doc_id", "sh")
    val pairs = T.simhashPairsFromFps(fps, maxHamming = 6)
      .as[(Long, Long, Long)].collect()
    assert(pairs.toSeq == Seq((0L, 1L, 5L)))
    // exhaustive property: every pair within the radius is produced, for a
    // fingerprint cloud around a few centers
    val rnd = new scala.util.Random(7)
    val centers = Seq(0L, -1L, 0x5555555555555555L)
    val cloud = (0 until 60).map { i =>
      val c = centers(i % centers.size)
      var v = c
      (0 until rnd.nextInt(9)).foreach(_ => v ^= 1L << rnd.nextInt(64))
      (i.toLong, v)
    }
    val fdf = cloud.toDF("doc_id", "sh")
    val got = T.simhashPairsFromFps(fdf, maxHamming = 6)
      .as[(Long, Long, Long)].collect().map(p => (p._1, p._2)).toSet
    val want = (for {
      (i, a) <- cloud; (j, b) <- cloud
      if i < j && java.lang.Long.bitCount(a ^ b) <= 6
    } yield (i, j)).toSet
    assert(got == want)
  }

  test("winnow fingerprints: shared k-grams overlap for near dups") {
    val a = "the quick brown fox jumps over the lazy dog in the morning sun"
    val b = "the quick brown fox jumps over the lazy cat in the morning sun"
    val c = "entirely unrelated text with no shared substrings whatsoever here"
    def fps(s: String) = {
      val arr = TextExprImpl.winnow(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), 8, 4)
      (0 until arr.numElements()).map(arr.getLong).toSet
    }
    val (fa, fb, fc) = (fps(a), fps(b), fps(c))
    assert((fa & fb).size > (fa & fc).size)
    assert(fps(a) == fps(a)) // deterministic
    assert(fps("short") .isEmpty == false || "short".length < 8) // < k → empty
  }

  test("jaccard pairs over hand corpus") {
    val docs = Seq(
      (0L, "a b c d e f g h"),
      (1L, "a b c d e f g x"),  // shares 5 of 6/6 trigrams? high jaccard
      (2L, "p q r s t u v w")).toDF("doc_id", "text")
    val pairs = T.jaccardPairs(docs, 0.5).as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L)))
    // trigrams of 8 tokens = 6; shared = 5 ("a b c".."e f g"); jaccard 5/7
    assert(math.abs(pairs.head._3 - math.rint(5.0 / 7.0 * 10000) / 10000) < 1e-12)
  }

  test("EQUIVALENCE GUARD: the single-pass shingle + minhash kernels are " +
       "value-identical to the built-in transform/md5 forms they replaced") {
    // the r4 perf rewrite (trigram_shingles / minhash_sigs) must not move
    // a single value — this pins the kernels against the original
    // higher-order-function formulations on adversarial texts (empties,
    // repeated runs of spaces, duplicate shingles, <3 tokens, unicode)
    val texts = Seq(
      "", " ", "a", "a b", "a b c", "a  b   c  d", "x x x x x x",
      "a b c a b c a b c", "the quick brown fox jumps over the lazy dog",
      "tök ünïcode wörds tök ünïcode wörds more", "a b c d",
      (1 to 200).map(i => s"w${i % 17}").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val builtinShingles = df.select(col("doc_id"),
        col("text"), T.wsTokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(
          when(size(col("toks")) >= 3,
            transform(sequence(lit(0), size(col("toks")) - 3),
              i => concat_ws(" ",
                element_at(col("toks"), i + 1),
                element_at(col("toks"), i + 2),
                element_at(col("toks"), i + 3))))
          .otherwise(array().cast("array<string>"))).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val kernelShingles = df.select(col("doc_id"),
        gfn.trigram_shingles(col("text")).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(kernelShingles == builtinShingles)
    val k = 6
    val builtinSigs = df.select(col("doc_id"),
        gfn.trigram_shingles(col("text")).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id") +: (0 until k).map(i =>
        array_min(transform(col("shingles"),
          s => md5(concat(s, lit(s"#salt$i"))))).as(s"mh$i")): _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getString)).toMap
    val kernelSigs = T.minhashSignatures(df, k)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getString)).toMap
    assert(kernelSigs == builtinSigs)
    assert(kernelSigs.nonEmpty && kernelSigs.values.forall(_.forall(_.length == 32)))
  }

  test("dupClusters: connected components with min-id keeper, transitive " +
       "beyond direct pairs, multi-iteration convergence") {
    // chain 1-2-3-4 (distance 3 forces >1 HashMin round), separate pair
    // 7-6 (reversed order), singleton-free by construction
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 6L)).toDF("a", "b")
    val got = T.dupClusters(pairs).as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (6L, 6L), (7L, 6L)))
    // non-convergence guard trips instead of looping forever
    intercept[IllegalArgumentException] {
      T.dupClusters(Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), maxIters = 1)
    }
  }

  test("dupClusters convergence QUANTIFIED (r4 verdict #8): a deep chain " +
       "needs exactly diameter+1 HashMin rounds, a clique exactly 2; the " +
       "maxIters guard trips one round earlier") {
    // adversarial CHAIN of 12 nodes (diameter 11): the min label walks one
    // hop per round, so node 11 learns label 0 at round 11 and round 12
    // observes no change — 12 rounds exactly. This is the shape the
    // "near-cliques converge fast" scale assumption excludes, so the test
    // pins BOTH that it still converges correctly and what it costs.
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    val expect = (0L to 11L).map(v => (v, 0L)).toSet
    assert(T.dupClusters(chain, maxIters = 12).as[(Long, Long)]
      .collect().toSet == expect)
    // one round fewer ⇒ the guard fires (iteration count pinned exactly)
    intercept[IllegalArgumentException] {
      T.dupClusters(chain, maxIters = 11)
    }
    // near-CLIQUE (triangle): every node sees the min in round 1, round 2
    // confirms the fixpoint — the 2-round fast path the scale argument
    // rests on, pinned the same way
    val clique = Seq((5L, 6L), (6L, 7L), (5L, 7L)).toDF("a", "b")
    assert(T.dupClusters(clique, maxIters = 2).as[(Long, Long)]
      .collect().toSet == Set((5L, 5L), (6L, 5L), (7L, 5L)))
    intercept[IllegalArgumentException] {
      T.dupClusters(clique, maxIters = 1)
    }
  }

  test("srpRadiusFor: auto radius = boundary mean + 4 sigma, capped at 31 " +
       "(bucket-collapse bound); measured calibration points pinned") {
    // threshold 0.9: θ = 25.84° ⇒ p = 0.1436 ⇒ mean 9.19, σ 2.81 ⇒ 21
    assert(T.srpRadiusFor(0.9) == 21)
    // the r5 measurement: fixed radius 16 ⇒ 1995/2000 at the 0.9 boundary;
    // the auto radius must clear the measured worst pair (hamming ≤ 21 at
    // cos 0.9165 over 2000 deterministic pairs — gate-verified at sf0.1)
    assert(T.srpRadiusFor(0.9) > 16)
    // deeper thresholds need smaller radii (monotone in threshold)
    assert(T.srpRadiusFor(0.95) < T.srpRadiusFor(0.9))
    assert(T.srpRadiusFor(0.99) < T.srpRadiusFor(0.95))
    // research-low thresholds hit the pigeonhole cap (≤2-bit blocks would
    // collapse buckets — round-2 failure mode): explicit radius territory
    assert(T.srpRadiusFor(0.4) == 31)
    // sigma knob: 0σ = just the boundary mean
    assert(T.srpRadiusFor(0.9, sigmas = 0.0) == 10) // ceil(9.19)
  }

  test("srpRadiusForN: wide-sketch radius math pinned; auto width escapes " +
       "the 64-bit cap exactly where the cap binds") {
    // 128-bit at research threshold 0.4: p = θ/π = 0.3690 ⇒ mean 47.23,
    // σ 5.46 ⇒ ceil(47.23 + 4·5.46) = 70
    assert(T.srpRadiusForN(0.4, 128) == 70)
    // the SAME math at 64 bits says 40 — past the pigeonhole collapse
    // bound 31, which is WHY srpRadiusFor caps there and the auto path in
    // cosineDupPairsLsh must widen the sketch instead (r5's 893/920)
    assert(T.srpRadiusForN(0.4, 64) == 40)
    assert(T.srpRadiusFor(0.4) == 31)
    // production threshold: uncapped 64-bit value ≡ the capped pin (21),
    // so the auto path keeps the proven 64-bit branch there
    assert(T.srpRadiusForN(0.9, 64) == 21)
    // relative radius shrinks with bits (σ/mean ∝ 1/√nbits): that shrink
    // is the entire value of the wide sketch
    assert(T.srpRadiusForN(0.4, 128).toDouble / 128 <
           T.srpRadiusForN(0.4, 64).toDouble / 64)
    // monotone in threshold at 128 bits too
    assert(T.srpRadiusForN(0.95, 128) < T.srpRadiusForN(0.9, 128))
    assert(T.srpRadiusForN(0.9, 128) < T.srpRadiusForN(0.4, 128))
  }

  test("wide SRP sketch: word 0 ≡ the 64-bit sketch; hamming_words ≡ " +
       "per-word bit_count(xor)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val s = emb.select(col("vec_id"), gfn.srp_sketch(col("v")).as("s64"),
      gfn.srp_sketch_n(col("v"), 2).as("sw"))
    assert(s.filter(element_at(col("sw"), 1) =!= col("s64")).count() == 0)
    val a = s.select(col("vec_id").as("ia"), col("sw").as("wa"))
    val b = s.select(col("vec_id").as("ib"), col("sw").as("wb"))
    val bad = a.crossJoin(b).filter(col("ia") < col("ib"))
      .filter(gfn.hamming_words(col("wa"), col("wb")) =!=
        (bit_count(element_at(col("wa"), 1).bitwiseXOR(element_at(col("wb"), 1))) +
         bit_count(element_at(col("wa"), 2).bitwiseXOR(element_at(col("wb"), 2)))))
    assert(bad.count() == 0)
  }

  test("wide SRP pairs: blocked candidates ≡ brute-force hamming at both a " +
       "two-stage and a degenerate single-stage radius") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(120)
      .select(col("vec_id").as("doc_id"),
        gfn.srp_sketch_n(
          transform(col("embedding"), x => x.cast("double")), 2).as("sh"))
      .localCheckpoint(true)
    // radius 10 ⇒ pair keys 2·128/12 = 21 bits ⇒ two-stage; radius 70 ⇒
    // pair keys would be 3 bits ⇒ single-stage. Pigeonhole completeness
    // must make BOTH byte-identical to the all-pairs hamming filter.
    val a = emb.toDF("ia", "wa")
    val b = emb.toDF("ib", "wb")
    val all = a.crossJoin(b).filter(col("ia") < col("ib"))
      .select(col("ia").as("a"), col("ib").as("b"),
        gfn.hamming_words(col("wa"), col("wb")).cast("long").as("hamming"))
      .localCheckpoint(true)
    for (radius <- Seq(10, 70)) {
      val brute = all.filter(col("hamming") <= radius)
        .as[(Long, Long, Long)].collect().toSet
      val blocked = T.simhashPairsFromFpsWide(emb, 128, radius)
        .as[(Long, Long, Long)].collect().toSet
      assert(blocked == brute, s"radius $radius")
      if (radius == 70) assert(brute.nonEmpty)
    }
  }

  test("research-threshold LSH (auto 128-bit branch) ≡ exact pairs on the " +
       "embeddings table") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = T.cosineDupPairsExact(emb, 0.4).collect().map(_.toString).toSeq
    val lsh = T.cosineDupPairsLsh(emb, 0.4).collect().map(_.toString).toSeq
    assert(exact.nonEmpty)
    assert(lsh == exact)
  }

  test("minhash LSH finds exact dup and skips unrelated") {
    val docs = Seq(
      (0L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), // exact dup → identical sig
      (2L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")).toDF("doc_id", "text")
    val pairs = T.minhashLshPairs(docs).as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((1L, 2L)))
  }

  test("IVF ANN achieves high recall vs brute force on the embeddings table") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = Seq(0L, 1L, 2L)
    val bf = T.bruteForceCosineTopK(emb, queries, 10)
      .select("query_id", "rnk", "neighbor").as[(Long, Long, Long)].collect().toSet
    // probing every cell must reproduce the exact baseline
    val ivfAll = T.ivfCosineTopK(emb, queries, 10, nprobe = 10)
      .select("query_id", "rnk", "neighbor").as[(Long, Long, Long)].collect().toSet
    assert(ivfAll == bf)
    // Recall bound calibrated to the DATA, not wishful: these synthetic
    // embeddings are ISOTROPIC (measured within-label mean cos 0.005 vs
    // across 0.001; 9% of top-10 neighbors share a label), so true
    // neighbors spread ~uniformly over cells and ANY cell scheme's recall
    // ≈ probed fraction + query-cell bias. The meaningful properties are:
    // recall beats the probed fraction at every nprobe, grows with nprobe,
    // and hits 1.0 at full probe (asserted above). On a genuinely
    // clustered corpus the same operator concentrates neighbors in few
    // cells and recall@3 rises accordingly.
    def recallAt(np: Int): Double = {
      val ivf = T.ivfCosineTopK(emb, queries, 10, nprobe = np)
        .select("query_id", "neighbor").as[(Long, Long)].collect().toSet
      (bf.map(t => (t._1, t._3)) & ivf).size.toDouble / bf.size
    }
    val (r3, r7) = (recallAt(3), recallAt(7))
    info(s"IVF recall: nprobe=3 → $r3, nprobe=7 → $r7")
    assert(r3 >= 0.3, s"recall@3 $r3 below probed fraction 0.3")
    assert(r7 >= 0.7, s"recall@7 $r7 below probed fraction 0.7")
    assert(r7 >= r3, "recall must not decrease with nprobe")
  }

  test("IVF ANN on a CLUSTERED corpus (mixture of 20 Gaussians): " +
       "recall@nprobe=3 >= 0.8 — the scale-path claim, not the isotropic floor") {
    // The sf embeddings are isotropic, where ANY cell scheme's recall ≈
    // probed fraction (previous test documents that floor honestly). Real
    // embedding corpora are clustered; this fixture is the matching claim:
    // neighbors concentrate in few cells, so probing 3/20 cells recovers
    // nearly all true neighbors.
    val rnd = new scala.util.Random(7)
    val dim = 32
    val nCenters = 20
    val centers = Array.fill(nCenters, dim)(rnd.nextGaussian())
    val rows = for { c <- 0 until nCenters; m <- 0 until 25 } yield {
      val v = centers(c).map(x => (x + 0.15 * rnd.nextGaussian()).toFloat)
      ((c * 25 + m).toLong, v.toSeq, c)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val queries = Seq(0L, 180L, 430L) // members of clusters 0, 7, 17
    val bf = T.bruteForceCosineTopK(emb, queries, 10)
      .select("query_id", "neighbor").as[(Long, Long)].collect().toSet
    val ivf = T.ivfCosineTopK(emb, queries, 10, nprobe = 3)
      .select("query_id", "neighbor").as[(Long, Long)].collect().toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    info(s"clustered IVF recall@nprobe=3: $recall")
    assert(recall >= 0.8, s"clustered recall@3 $recall below 0.8")
  }

  test("IVF ANN at scale shape: 50 cells × 40 members, k=25, probing 10% " +
       "of cells still recovers ≥0.9 of the true neighbors") {
    // the widened claim (r5 memory note): more cells + a larger k than the
    // 20-cell fixture — the regime where a broken router or probe-order
    // bug hides behind small-k luck. nprobe/cells = 5/50 probes only 10%
    // of the corpus, so recall ≥ 0.9 is a real routing property, not the
    // probed-fraction floor (0.1).
    val rnd = new scala.util.Random(29)
    val dim = 32
    val nCenters = 50
    val centers = Array.fill(nCenters, dim)(rnd.nextGaussian())
    val rows = for { c <- 0 until nCenters; m <- 0 until 40 } yield {
      val v = centers(c).map(x => (x + 0.12 * rnd.nextGaussian()).toFloat)
      ((c * 40 + m).toLong, v.toSeq, c)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    // one query per corpus third, each a cluster member (clusters 2/23/44)
    val queries = Seq(80L, 920L, 1760L)
    val bf = T.bruteForceCosineTopK(emb, queries, 25)
      .select("query_id", "neighbor").as[(Long, Long)].collect().toSet
    val ivf = T.ivfCosineTopK(emb, queries, 25, nprobe = 5)
      .select("query_id", "neighbor").as[(Long, Long)].collect().toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    info(s"50-cell IVF recall@25, nprobe=5: $recall")
    assert(recall >= 0.9, s"recall $recall below 0.9 at 10% probe fraction")
  }

  test("two-stage simhash banding (block pairs) produces the identical pair set") {
    val rnd = new scala.util.Random(13)
    val centers = Seq(0L, -1L, 0x0f0f0f0f0f0f0f0fL)
    val cloud = (0 until 50).map { i =>
      var v = centers(i % centers.size)
      (0 until rnd.nextInt(9)).foreach(_ => v ^= 1L << rnd.nextInt(64))
      (i.toLong, v)
    }
    val fdf = cloud.toDF("doc_id", "sh")
    val single = T.simhashPairsFromFps(fdf, maxHamming = 6)
      .as[(Long, Long, Long)].collect().toSet
    val twoStage = T.simhashPairsFromFpsTwoStage(fdf, maxHamming = 6)
      .as[(Long, Long, Long)].collect().toSet
    assert(twoStage == single)
    assert(single.nonEmpty)
  }

  test("embedding-cosine dup pairs: SRP-LSH recovers the exact pairs on a clustered corpus") {
    // deterministic clustered vectors: 8 centers × 5 members with small
    // perturbation → within-cluster cos ≈ 0.99, across ≈ orthogonal
    val rnd = new scala.util.Random(11)
    val dim = 64
    val centers = Array.fill(8, dim)(rnd.nextGaussian())
    val rows = for { c <- 0 until 8; m <- 0 until 5 } yield {
      val v = centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat)
      ((c * 5 + m).toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val exact = T.cosineDupPairsExact(emb, 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "clustered corpus must contain near-dup pairs")
    val lsh = T.cosineDupPairsLsh(emb, 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // precision 1.0 by construction (candidates are exact-verified);
    // recall bounded below on clustered data
    assert(lsh.subsetOf(exact))
    val recall = lsh.size.toDouble / exact.size
    info(s"SRP-LSH recall at maxHamming=16: $recall (${lsh.size}/${exact.size})")
    assert(recall >= 0.9, s"SRP-LSH recall $recall below 0.9")
  }

  test("hot-bucket cap: no-op above max df; bounds candidates on a hot-key corpus") {
    // every doc shares ONE boilerplate trigram; everything else is unique.
    // Uncapped, that single hot shingle yields all n·(n-1)/2 candidate
    // pairs — exactly the df² blow-up the cap exists to stop at scale.
    val n = 40
    val docs = (0L until n.toLong)
      .map(i => (i, s"common boiler plate unique$i token$i extra$i"))
      .toDF("doc_id", "text")
    val uncapped = T.jaccardPairs(docs, 0.1, maxShingleDf = 0).collect()
    assert(uncapped.length == n * (n - 1) / 2) // 780: the blow-up is real
    // cap far above the max df (n) → byte-identical output
    val high = T.jaccardPairs(docs, 0.1, maxShingleDf = 10 * n).collect()
    assert(uncapped.map(_.toString).toSeq == high.map(_.toString).toSeq)
    // cap below the hot shingle's df → boilerplate ignored, zero candidates
    val capped = T.jaccardPairs(docs, 0.1, maxShingleDf = 10).collect()
    assert(capped.isEmpty)

    // same guard on the LSH band path: 30 identical docs → one hot band sig
    val dups = (0L until 30L).map(i => (i, "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("doc_id", "text")
    assert(T.minhashLshPairs(dups, maxBandDf = 0).count() == 30L * 29 / 2)
    assert(T.minhashLshPairs(dups, maxBandDf = 10).count() == 0)

    // and on the simhash family's block keys: 30 identical fingerprints put
    // all 30 docs in every bucket of every variant
    val fp = 0x0123456789abcdefL
    val same = (0L until 30L).map(i => (i, fp)).toDF("doc_id", "sh")
    val sameWide = (0L until 30L).map(i => (i, Seq(fp, ~fp))).toDF("doc_id", "sh")
    for ((cap, want) <- Seq(0L -> 30L * 29 / 2, 10L -> 0L)) {
      assert(T.simhashPairsFromFps(same, 6, maxBucketDf = cap).count() == want)
      assert(T.simhashPairsFromFpsTwoStage(same, 6, maxBucketDf = cap).count() == want)
      assert(T.simhashPairsFromFpsWide(sameWide, 128, 6, maxBucketDf = cap).count() == want)
    }

    // default caps are no-ops on the sf0.001 fixture corpus (df ≪ cap)
    val fix = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(T.jaccardPairs(fix, 0.4).collect().map(_.toString).toSeq ==
      T.jaccardPairs(fix, 0.4, maxShingleDf = 0).collect().map(_.toString).toSeq)
    assert(T.simhashPairs(fix, 6).collect().map(_.toString).toSeq ==
      T.simhashPairs(fix, 6, maxBucketDf = 0).collect().map(_.toString).toSeq)
  }

  test("hot-bucket cap does NOT deflate surviving pairs: capped scores equal " +
       "the uncapped run wherever a pair survives (jaccard + winnow)") {
    // docs 0/1 are near-dups sharing many shingles INCLUDING a hot
    // boilerplate trigram shared by everyone; docs 2..19 share ONLY the
    // boilerplate. With the cap below the boilerplate's df: the 0-1 pair
    // must keep its exact uncapped jaccard (hot-key correction), while
    // boilerplate-only pairs disappear (documented candidate loss).
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = (
      Seq((0L, s"common boiler plate $base"),
          (1L, s"common boiler plate $base iota")) ++
      (2L until 20L).map(i => (i, s"common boiler plate unique$i only$i"))
    ).toDF("doc_id", "text")
    val uncapped = T.jaccardPairs(docs, 0.05, maxShingleDf = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = T.jaccardPairs(docs, 0.05, maxShingleDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(capped.contains((0L, 1L)), "near-dup pair must survive the cap")
    capped.foreach { case (k, v) =>
      assert(uncapped(k) == v, s"pair $k: capped $v != uncapped ${uncapped(k)}")
    }
    // winnow: same corpus, same invariant on the shared counts
    val wUncapped = T.winnowPairs(docs, 1, maxFpDf = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val wCapped = T.winnowPairs(docs, 1, maxFpDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(wCapped.nonEmpty)
    wCapped.foreach { case (k, v) =>
      assert(wUncapped(k) == v, s"winnow pair $k: capped $v != uncapped ${wUncapped(k)}")
    }
  }

  test("Spark job count of each pairwise op is pinned on the sf0.001 fixture") {
    // the pairwise ops are actions (TrainingOps scaladoc); these are the
    // jobs their shared persist/count/self-join/checkpoint lifecycle runs
    // on the fixture, so an op that grows an extra job fails here
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sims = docs.select(col("doc_id"), gfn.simhash_md5(T.wsTokens(col("text"))).as("sh"))
    val wide = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), gfn.srp_sketch_n(
        transform(col("embedding"), x => x.cast("double")), 2).as("sh"))
    val ops = Seq[(String, () => Unit)](
      "jaccard" -> (() => T.jaccardPairs(docs, 0.4)),
      "minhash" -> (() => T.minhashLshPairs(docs)),
      "simhash" -> (() => T.simhashPairsFromFps(sims, 6)),
      "simhash_2stage" -> (() => T.simhashPairsFromFpsTwoStage(sims, 6)),
      "simhash_wide" -> (() => T.simhashPairsFromFpsWide(wide, 128,
        T.srpRadiusForN(0.4, 128))),
      "winnow_md5" -> (() => T.winnowPairs(docs, 60)),
      "winnow_rolling" -> (() => T.winnowPairs(docs, 60, portable = false)))
    val prefix = "opsspec-jobs-"
    val jobs = scala.collection.mutable.Map.empty[String, Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix))
          .foreach(g => jobs.synchronized(jobs(g) = jobs.getOrElse(g, 0) + 1))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    def inGroup(name: String)(f: => Unit): Unit = {
      sc.setJobGroup(prefix + name, name)
      try f finally sc.clearJobGroup()
    }
    try {
      ops.foreach { case (name, op) => inGroup(name)(op()) }
      // listener events arrive in order: once the flush job is seen, every
      // job of the ops above has been counted
      inGroup("flush")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (jobs.synchronized(!jobs.contains("flush")) && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    val measured = jobs.synchronized(jobs.toMap) - "flush"
    assert(measured == Map("jaccard" -> 11, "minhash" -> 9, "simhash" -> 8,
      "simhash_2stage" -> 8, "simhash_wide" -> 8, "winnow_md5" -> 9,
      "winnow_rolling" -> 9))
  }

  test("multimodal: decode stub plumbing — schema, determinism, frame explode") {
    val media = Seq(
      ("u1", "payload-one".getBytes("UTF-8")),
      ("u2", "payload-two-longer".getBytes("UTF-8"))).toDF("url", "html")
    val meta = Multimodal.extractFeatures(media)
    val rows = meta.collect().sortBy(_.url)
    assert(rows.map(_.url).toSeq == Seq("u1", "u2"))
    assert(rows.forall(r => r.feature.length == 8 && r.width > 0 && r.n_frames >= 1))
    // deterministic across runs
    val again = Multimodal.extractFeatures(media).collect().sortBy(_.url)
    assert(rows.zip(again).forall { case (a, b) =>
      a.content_hash == b.content_hash && a.width == b.width })
    val frames = Multimodal.sampleFrames(meta)
    assert(frames.count() == rows.map(_.n_frames.toLong).sum)
    assert(frames.columns.toSet ==
      Set("url", "width", "height", "frame_no", "frame_hash"))
  }

  test("multimodal: PNG IHDR dimensions are parsed for real (not stubbed), " +
       "non-PNG bytes fall back to the stub") {
    val media = graft.corpus.TestCorpus.mediaRows(5)
    // generator-side truth: re-read width/height straight from the IHDR
    def be32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    val expected = media.map(m => m.url -> (be32(m.html, 16), be32(m.html, 20))).toMap
    assert(expected.values.toSet.size > 1) // dims actually vary
    val df = spark.createDataset(media).toDF()
    val got = Multimodal.extractFeatures(df).collect()
      .map(m => m.url -> ((m.width, m.height), m.n_frames)).toMap
    expected.foreach { case (url, wh) =>
      assert(got(url)._1 == wh, s"$url IHDR dims")
      assert(got(url)._2 == 1)
    }
    // corrupt the signature → stub path (deterministic fake dims)
    val broken = media.head.html.clone(); broken(0) = 0x00
    assert(Multimodal.decodePngDims(broken).isEmpty)
    assert(Multimodal.decodePngDims("<html></html>".getBytes("UTF-8")).isEmpty)
  }

  test("multimodal: JPEG SOF0 and GIF logical-screen dimensions are parsed " +
       "for real across leading segments; non-media bytes fall back") {
    def be16(b: Array[Byte], o: Int): Int = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    def le16(b: Array[Byte], o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    // generator-side truth at the fixed layout offsets (SOI 2 + APP0 18 +
    // DQT 69 ⇒ SOF0 marker at 89, height/width BE at 94/96), mirroring the
    // PNG test's IHDR-offset check — independent of the parser under test
    val jpegs = graft.corpus.TestCorpus.jpegRows(5)
    jpegs.foreach { m =>
      val expected = (be16(m.html, 96), be16(m.html, 94))
      assert(Multimodal.decodeJpegDims(m.html).contains(expected), m.url)
    }
    assert(jpegs.map(m => be16(m.html, 96)).distinct.size > 1) // dims vary
    val gifs = graft.corpus.TestCorpus.gifRows(5)
    gifs.foreach { m =>
      val expected = (le16(m.html, 6), le16(m.html, 8))
      assert(Multimodal.decodeGifDims(m.html).contains(expected), m.url)
    }
    // the full dispatch picks the right parser per format
    val all = graft.corpus.TestCorpus.mediaRows(2) ++ jpegs.take(2) ++ gifs.take(2)
    val got = Multimodal.extractFeatures(spark.createDataset(all).toDF())
      .collect().map(m => m.url -> (m.width, m.height)).toMap
    jpegs.take(2).foreach(m =>
      assert(got(m.url) == (be16(m.html, 96), be16(m.html, 94))))
    gifs.take(2).foreach(m =>
      assert(got(m.url) == (le16(m.html, 6), le16(m.html, 8))))
    // negatives: truncation, wrong signature, SOS-before-SOF, html bytes
    assert(Multimodal.decodeJpegDims(Array[Byte](0xff.toByte, 0xd8.toByte)).isEmpty)
    assert(Multimodal.decodeJpegDims("GIF89a-not-a-jpeg".getBytes("UTF-8")).isEmpty)
    // truncated right after fill bytes: the fill loop advances i, so the
    // length-field reads must re-check bounds (was an AIOOBE escape from
    // the walker's totality contract)
    assert(Multimodal.decodeJpegDims(
      Array(0xff, 0xd8, 0xff, 0xff, 0xff, 0xff).map(_.toByte)).isEmpty)
    assert(Multimodal.decodeJpegDims(
      Array(0xff, 0xd8, 0xff, 0xff, 0xe0).map(_.toByte)).isEmpty)
    val sosFirst = Array(0xff, 0xd8, 0xff, 0xda, 0x00, 0x04, 0, 0).map(_.toByte)
    assert(Multimodal.decodeJpegDims(sosFirst).isEmpty)
    assert(Multimodal.decodeGifDims("<html></html>".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeGifDims("GIF89a".getBytes("UTF-8")).isEmpty) // truncated
  }

  test("multimodal: REAL PNG pixel decode — hand-built image round-trips " +
       "exactly; features match hand-computed values") {
    // hand-encode a 2x2 RGBA PNG with filter 0 rows, fully independent of
    // the generator and the decoder under test
    val px = Array[Int](
      255, 0, 0, 255,   0, 255, 0, 255, // row 0: red, green
      0, 0, 255, 255,   255, 255, 255, 255) // row 1: blue, white
    val raw = Array[Byte](
      0, // filter None
      255.toByte, 0, 0, 255.toByte, 0, 255.toByte, 0, 255.toByte,
      0, // filter None
      0, 0, 255.toByte, 255.toByte, 255.toByte, 255.toByte, 255.toByte, 255.toByte)
    val deflated = {
      val d = new java.util.zip.Deflater(); d.setInput(raw); d.finish()
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](256)
      while (!d.finished()) buf.write(tmp, 0, d.deflate(tmp))
      d.end(); buf.toByteArray
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def be32(v: Int) = Array(((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
      ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(t: String, data: Array[Byte]): Unit = {
      out.write(be32(data.length))
      val body = t.getBytes("US-ASCII") ++ data
      out.write(body)
      val crc = new java.util.zip.CRC32(); crc.update(body)
      out.write(be32(crc.getValue.toInt))
    }
    chunk("IHDR", be32(2) ++ be32(2) ++ Array[Byte](8, 6, 0, 0, 0))
    chunk("IDAT", deflated)
    chunk("IEND", Array.emptyByteArray)
    val png = out.toByteArray

    val Some((w, h, ch, decoded)) = Multimodal.decodePngPixels(png)
    assert((w, h, ch) == (2, 2, 4))
    assert(decoded.map(_ & 0xff).toSeq == px.toSeq) // exact pixel round-trip

    // hand-computed features (ITU-R 601 luma over the four pixels)
    val feat = Multimodal.pixelFeature(2, 2, 4, decoded)
    val lumas = Seq(0.299, 0.587, 0.114, 1.0)
    val meanL = lumas.sum / 4
    assert(math.abs(feat(0) - (255 + 0 + 0 + 255) / 4.0 / 255.0) < 1e-12) // mean R
    assert(math.abs(feat(1) - (0 + 255 + 0 + 255) / 4.0 / 255.0) < 1e-12) // mean G
    assert(math.abs(feat(2) - (0 + 0 + 255 + 255) / 4.0 / 255.0) < 1e-12) // mean B
    assert(math.abs(feat(3) - meanL) < 1e-12)
    val varL = lumas.map(l => (l - meanL) * (l - meanL)).sum / 4
    assert(math.abs(feat(4) - math.sqrt(varL)) < 1e-12)
    // horizontal neighbors: (r0: |.587-.299|, r1: |1.0-.114|); vertical:
    // (c0: |.114-.299|, c1: |1.0-.587|)
    assert(math.abs(feat(5) - (0.288 + 0.886) / 2) < 1e-12)
    assert(math.abs(feat(6) - (0.185 + 0.413) / 2) < 1e-12)
    assert(feat(7) == 0.5) // white and green are above the mean luma

    // mismatched layouts / corrupt streams → None (fallback, never throws):
    // declaring this RGBA data as RGB shrinks the expected raw size, so
    // the zlib stream inflates PAST it — the oversized-stream check fires
    val rgbDeclared = png.clone(); rgbDeclared(25) = 2
    assert(Multimodal.decodePngPixels(rgbDeclared).isEmpty)
    assert(Multimodal.decodePngPixels(png.take(40)).isEmpty) // truncated IDAT
    // hostile headers must degrade to None, never throw (ADVICE r5 #1):
    // IHDR truncated exactly where the layout check reads
    assert(Multimodal.decodePngPixels(png.take(26)).isEmpty)
    // declared dims so large the pixel buffer would overflow/expand absurdly
    val huge = png.clone()
    huge(16) = 0x7f.toByte; huge(17) = 0xff.toByte // width ≈ 2^31
    huge(18) = 0xff.toByte; huge(19) = 0xff.toByte
    // (CRC no longer matches, but the decoder doesn't check CRC — the
    // allocation cap must reject it first)
    assert(Multimodal.decodePngPixels(huge).isEmpty)
    // hostile chunk length near 2^31: the Long-arithmetic bound check
    // must reject it instead of wrapping negative and passing
    val hostileLen = png.clone()
    hostileLen(33) = 0x7f.toByte; hostileLen(34) = 0xff.toByte
    hostileLen(35) = 0xff.toByte; hostileLen(36) = 0xf0.toByte
    assert(Multimodal.decodePngPixels(hostileLen).isEmpty)
    // zlib FDICT header (0x78 0xBB — preset dictionary, illegal in PNG):
    // Inflater stalls returning 0 with needsInput=false, finished=false —
    // the decoder must bail out (None), NOT spin forever in the inflate
    // loop (a hang would be a task-killing hostile payload)
    val fdictBody = Array[Byte](0x78.toByte, 0xBB.toByte) ++ deflated.drop(2)
    val fdictPng = {
      val o2 = new java.io.ByteArrayOutputStream()
      o2.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      def ch(t: String, data: Array[Byte]): Unit = {
        o2.write(be32(data.length))
        val body = t.getBytes("US-ASCII") ++ data
        o2.write(body)
        val crc = new java.util.zip.CRC32(); crc.update(body)
        o2.write(be32(crc.getValue.toInt))
      }
      ch("IHDR", be32(2) ++ be32(2) ++ Array[Byte](8, 6, 0, 0, 0))
      ch("IDAT", fdictBody)
      ch("IEND", Array.emptyByteArray)
      o2.toByteArray
    }
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var fdictResult: Option[Any] = Some("unset")
    val th = new Thread(() => {
      fdictResult = Multimodal.decodePngPixels(fdictPng); done.countDown()
    })
    th.setDaemon(true); th.start()
    assert(done.await(10, java.util.concurrent.TimeUnit.SECONDS),
      "FDICT PNG hung the decoder (infinite inflate loop)")
    assert(fdictResult.isEmpty)
  }

  test("multimodal: generator PNGs decode through all five scanline filters — " +
       "gradient channels match the generator formula; GIF frame counts are real") {
    val pixes = graft.corpus.TestCorpus.pngPixelRows(6)
    val wantCh = Array(4, 3, 1, 4, 3, 1) // fixture color types cycle 6/2/0
    pixes.zipWithIndex.foreach { case (p, i) =>
      val Some((w, h, ch, px)) = Multimodal.decodePngPixels(p.html)
      assert(ch == wantCh(i), s"channels of ${p.url}")
      assert(h >= 5, "needs ≥5 rows to exercise every filter type")
      // generator-side truth, rng-independent: sample 0 = x-gradient,
      // sample 1 (RGB/RGBA) = y-gradient, alpha = 255 — surviving
      // de-filter of types 0-4 proves the Sub/Up/Average/Paeth inversions
      // are correct at every bytes-per-pixel
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val o = (y * w + x) * ch
          assert((px(o) & 0xff) == x * 255 / math.max(w - 1, 1), s"s0 at ($x,$y) of ${p.url}")
          if (ch >= 3)
            assert((px(o + 1) & 0xff) == y * 255 / math.max(h - 1, 1), s"s1 at ($x,$y)")
          if (ch == 4) assert((px(o + 3) & 0xff) == 255, s"A at ($x,$y)")
          x += 1
        }
        y += 1
      }
      // the dispatch uses the real pixels (feature ≠ stub's)
      val (dw, dh, df, feat) = Multimodal.decode(p.html)
      assert((dw, dh, df) == (w, h, 1))
      assert(!feat.sameElements(Multimodal.decodeStub(p.html)._4))
      // grayscale: r=g=b by construction, so the three channel means agree
      if (ch == 1) assert(feat(0) == feat(1) && feat(1) == feat(2))
    }

    // GIF: the block walk counts the true image descriptors (1 + i%4)
    val gifs = graft.corpus.TestCorpus.gifRows(8)
    gifs.zipWithIndex.foreach { case (g, i) =>
      assert(Multimodal.decodeGifFrameCount(g.html).contains(1 + (i % 4)), g.url)
      val (_, _, nf, _) = Multimodal.decode(g.html)
      assert(nf == 1 + (i % 4), s"dispatch frames for ${g.url}")
    }
    // negatives: truncated stream (no trailer), garbage block introducer
    val truncated = gifs.head.html.dropRight(1)
    assert(Multimodal.decodeGifFrameCount(truncated).isEmpty)
    val garbage = gifs.head.html.clone()
    // first block introducer lives right after header+GCT (13 + 12 bytes)
    garbage(25) = 0x7f
    assert(Multimodal.decodeGifFrameCount(garbage).isEmpty)
    // pixel decode degrades to None on malformed streams — but a missing
    // TRAILER doesn't matter to it: the first frame is complete, so the
    // frame-count walk fails while the pixel decode still succeeds
    assert(Multimodal.decodeGifPixels(truncated).isDefined)
    assert(Multimodal.decodeGifPixels(gifs.head.html.take(40)).isEmpty) // cut mid-LZW
    assert(Multimodal.decodeGifPixels(garbage).isEmpty)
  }

  test("multimodal: GIF LZW round-trip — encoder→decoder reproduces indices " +
       "through code-width growth, KwKwK, and a 4096-entry table reset; " +
       "interlaced first frame decodes to the same pixels") {
    import graft.corpus.TestCorpus
    // (a) KwKwK: 'aaaa…' forces code == next-free-slot immediately
    val runs = Array.fill[Byte](500)(1)
    assert(Multimodal.lzwDecode(2, TestCorpus.lzwEncode(2, runs), 500)
      .exists(_.sameElements(runs)))
    // (b) code-width growth past 8→12 bits and a table reset: a stream
    // with enough distinct 2-grams to fill the 4096-entry dictionary
    val big = Array.tabulate[Byte](200000)(i => ((i * 37 + (i >> 5)) % 256).toByte)
    assert(Multimodal.lzwDecode(8, TestCorpus.lzwEncode(8, big), big.length)
      .exists(_.sameElements(big)))
    // (c) malformed stream: a code beyond the table must reject, not throw
    assert(Multimodal.lzwDecode(2, Array[Byte](0xff.toByte, 0xff.toByte), 4).isEmpty)
    // (d) truncated bitstream (runs out before nPixels)
    val enc = TestCorpus.lzwEncode(2, runs)
    assert(Multimodal.lzwDecode(2, enc.take(enc.length / 2), 500).isEmpty)

    // (e) full-GIF decode: interlaced vs sequential storage of the SAME
    // frame must reconstruct identical canvases (gifRows makes every 4th
    // row interlaced; row 3 and a hand-rebuilt non-interlaced twin agree
    // via the pixel features, which are injective enough here)
    val gifs = TestCorpus.gifRows(8)
    gifs.foreach { g =>
      val Some((w, h, ch, px)) = Multimodal.decodeGifPixels(g.html)
      assert(ch == 3)
      val dims = Multimodal.decodeGifDims(g.html).get
      assert((w, h) == dims)
      assert(px.length == w * h * 3)
      // dispatch: GIF features now come from REAL decoded pixels
      val (_, _, _, feat) = Multimodal.decode(g.html)
      assert(feat.sameElements(Multimodal.pixelFeature(w, h, 3, px)))
      assert(!feat.sameElements(Multimodal.decodeStub(g.html)._4))
    }
  }

  test("multimodal: REAL JPEG pixel decode (JDK ImageIO codec) — flat-color " +
       "blocks round-trip within JPEG tolerance, grayscale collapses to " +
       "r=g=b, hardening degrades to None") {
    import java.awt.image.BufferedImage
    // independent of the fixture generator: build a 16×16 two-block image
    // (left mid-gray, right pure red) directly here and encode it
    def encode(img: BufferedImage): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", out)
      out.toByteArray
    }
    val img = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16)
      img.setRGB(x, y, if (x < 8) 0x808080 else 0xc00000)
    val Some((w, h, ch, px)) = Multimodal.decodeJpegPixels(encode(img))
    assert((w, h, ch) == (16, 16, 3))
    assert(px.length == 16 * 16 * 3)
    // flat interior pixels survive the lossy cycle within a small bound
    // (block edges ring; sample well inside each block)
    def at(x: Int, y: Int) = ((px((y * 16 + x) * 3) & 0xff),
      (px((y * 16 + x) * 3 + 1) & 0xff), (px((y * 16 + x) * 3 + 2) & 0xff))
    val (gr, gg, gb) = at(2, 8)
    assert(math.abs(gr - 0x80) <= 8 && math.abs(gg - 0x80) <= 8 &&
      math.abs(gb - 0x80) <= 8, s"gray block drifted: ($gr,$gg,$gb)")
    val (rr, rg, rb) = at(13, 8)
    assert(rr >= 0xb0 && rg <= 0x30 && rb <= 0x30,
      s"red block drifted: ($rr,$rg,$rb)")

    // single-component (grayscale) JPEG decodes to r=g=b
    val gimg = new BufferedImage(12, 10, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 10; x <- 0 until 12) {
      val v = x * 20 min 255
      gimg.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val Some((gw, gh, gch, gpx)) = Multimodal.decodeJpegPixels(encode(gimg))
    assert((gw, gh, gch) == (12, 10, 3))
    (0 until gw * gh).foreach { i =>
      assert(gpx(i * 3) == gpx(i * 3 + 1) && gpx(i * 3) == gpx(i * 3 + 2))
    }

    // determinism: same bytes → identical decoded pixels
    val again = Multimodal.decodeJpegPixels(encode(img)).get._4
    assert(again.sameElements(px))

    // hardening: header-only fixture JPEGs (no scan data) → None, falls
    // back to header dims + stub features, never throws
    graft.corpus.TestCorpus.jpegRows(3).foreach { p =>
      assert(Multimodal.decodeJpegPixels(p.html).isEmpty, p.url)
      val dims = Multimodal.decodeJpegDims(p.html).get
      val (dw, dh, _, feat) = Multimodal.decode(p.html)
      assert((dw, dh) == dims)
      assert(feat.sameElements(Multimodal.decodeStub(p.html)._4))
    }
    // truncated entropy data → None (exception-fenced)
    val full = encode(img)
    assert(Multimodal.decodeJpegPixels(full.take(full.length / 2)).isEmpty)
    // declared dims over the allocation cap → rejected BEFORE any codec
    // work (re-declare the SOF dims of a real stream as 30000×30000)
    val huge = full.clone()
    var i = 2
    var sof = -1
    while (sof < 0 && i + 8 < huge.length) {
      val m = huge(i + 1) & 0xff
      if ((huge(i) & 0xff) == 0xff && m >= 0xc0 && m <= 0xcf &&
          m != 0xc4 && m != 0xc8 && m != 0xcc) sof = i
      else {
        val len = ((huge(i + 2) & 0xff) << 8) | (huge(i + 3) & 0xff)
        i += 2 + len
      }
    }
    assert(sof > 0, "fixture jpeg must carry an SOF marker")
    huge(sof + 5) = 0x75.toByte; huge(sof + 6) = 0x30.toByte // h = 30000
    huge(sof + 7) = 0x75.toByte; huge(sof + 8) = 0x30.toByte // w = 30000
    assert(Multimodal.decodeJpegPixels(huge).isEmpty)
  }

  test("multimodal: generator JPEGs (photo_px fixtures) decode through the " +
       "real path — dims match the header walk, features come from decoded " +
       "pixels and track the generator's gradient") {
    val photos = graft.corpus.TestCorpus.jpegPixelRows(4)
    photos.foreach { p =>
      val Some((w, h, ch, px)) = Multimodal.decodeJpegPixels(p.html)
      assert(ch == 3)
      assert(Multimodal.decodeJpegDims(p.html).contains((w, h)))
      assert(px.length == w * h * 3)
      // dispatch: JPEG features now come from REAL decoded pixels
      val (_, _, _, feat) = Multimodal.decode(p.html)
      assert(feat.sameElements(Multimodal.pixelFeature(w, h, 3, px)))
      assert(!feat.sameElements(Multimodal.decodeStub(p.html)._4))
      // generator truth: R is an x-gradient (mean ≈ 0.5 of full scale
      // + half the noise amplitude), so the decoded mean-R feature must
      // land near it — a lossy-tolerant pin that still catches channel
      // swaps, de-quantization bugs, and row-order mistakes
      assert(math.abs(feat(0) - 0.5) < 0.1, s"mean R of ${p.url}: ${feat(0)}")
      // vertical gradient energy ≈ horizontal gradient energy for the
      // symmetric generator — and both far from zero
      assert(feat(5) > 0.005 && feat(6) > 0.005, p.url)
    }
    // grayscale every 3rd photo: decoded r=g=b ⇒ mean R = mean G = mean B
    val grayFeat = Multimodal.decode(photos(2).html)._4
    assert(math.abs(grayFeat(0) - grayFeat(1)) < 1e-9 &&
      math.abs(grayFeat(1) - grayFeat(2)) < 1e-9)
  }

  test("langId v2: full confusion matrix on a real 5-language fixture " +
       "(en/de/fr/es discriminated, gibberish → other)") {
    val docs = Seq(
      (0L, "en", "the cat sat on the mat and the dog ran to the house of the king"),
      (1L, "de", "der hund ist und die katze ist in das haus und der mann ist da"),
      (2L, "fr", "le chat est dans la maison et les chiens et le roi est ici"),
      (3L, "es", "el perro es que la casa es los gatos que el rey es aqui"),
      (4L, "other", "xylo qwer zvast plomb krint vosh dreb nulp grax welv")
    ).toDF("doc_id", "lang", "text")
    val out = T.langId(docs)
    assert(out.columns.toSeq == Seq("doc_id", "lang", "en_score", "de_score",
      "fr_score", "es_score", "predicted"))
    val got = out.select("lang", "predicted")
      .as[(String, String)].collect().toMap
    // diagonal confusion matrix: every language maps to itself
    assert(got == Map("en" -> "en", "de" -> "de", "fr" -> "fr",
      "es" -> "es", "other" -> "other"))
  }

  test("sessionize: inactivity gaps split sessions, ties ordered by event_id, " +
       "exact DECIMAL sums") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val events = Seq(
      // user 1: two events 10 min apart, then a 2-hour gap, then one more
      (1L, ts(0), 1L, "a", 1.10),
      (2L, ts(600), 1L, "b", 2.20),
      (3L, ts(600 + 7800), 1L, "c", 4.40),
      // user 2: single event
      (4L, ts(50), 2L, "d", 8.80),
      // user 1: same-timestamp tie with event 1 — event_id orders it
      (5L, ts(0), 1L, "e", 0.01)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = T.sessionize(events, gapSeconds = 3600L)
      .select("user_id", "session_no", "n_events", "start_us", "end_us", "sum_value")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 3L, 0L, 600000000L, 3.31),            // events 1,5,2 (tie by id)
      (1L, 2L, 1L, 8400000000L, 8400000000L, 4.40),  // after the 2h10m gap
      (2L, 1L, 1L, 50000000L, 50000000L, 8.80)))
  }

  test("sessionize is session-timezone independent on TIMESTAMP_NTZ input " +
       "(r3 ADVICE: the NTZ→TIMESTAMP cast route shifted start_us by the zone offset)") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    assert(events.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType) // the fixture this guards
    val tzKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzKey)
    def run(): Seq[(Long, Long, Long, Long)] =
      T.sessionize(events, gapSeconds = 21600L)
        .select("user_id", "session_no", "start_us", "end_us")
        .as[(Long, Long, Long, Long)].collect().toSeq
    try {
      spark.conf.set(tzKey, "UTC")
      val utc = run()
      spark.conf.set(tzKey, "Asia/Hong_Kong") // +8h — a shift would move start_us
      val hkt = run()
      assert(utc == hkt)
    } finally spark.conf.set(tzKey, saved)
  }

  test("bloom: no false negatives, plausible fpp, merge") {
    val b = new graft.functions.Bloom(1024, 5)
    val items = (0L until 10000L by 7L).map(i => i * 0x9e3779b97f4a7c15L)
    items.foreach(b.put)
    assert(items.forall(b.mightContain))
    val b2 = graft.functions.Bloom.deserialize(b.serialize())
    assert(items.forall(b2.mightContain))
    val c = new graft.functions.Bloom(1024, 5)
    c.put(42L)
    c.mergeInPlace(b)
    assert(c.mightContain(42L) && items.forall(c.mightContain))
  }
}
