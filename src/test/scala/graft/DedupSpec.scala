package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CosineSimilarity, LshBuckets, WordShingles}
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  test("WordShingles ≡ sliding-window spec (randomized, with messy spaces)") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("agg", "row", "scan", "x", "key", "value", "spark")
    val texts = Seq.fill(200) {
      val n = rnd.nextInt(8)
      val sep = () => " " * (1 + rnd.nextInt(3)) // multi-space separators
      (0 until n).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(sep()) + (if (rnd.nextBoolean()) " " else "")
    } :+ "" :+ " " :+ "solo" :+ "  two  words  "

    def spec(t: String, k: Int): Seq[String] = {
      val ws = t.split(" +").filter(_.nonEmpty).toSeq
      if (ws.length < k) Seq.empty
      else ws.sliding(k).map(_.mkString(" ")).toSeq
    }

    for (k <- Seq(1, 2, 3)) {
      val got = texts.toDF("t")
        .select($"t", WordShingles($"t", k).as("sh"))
        .as[(String, Seq[String])].collect().toMap
      texts.foreach(t => assert(got(t) === spec(t, k), s"text='$t' k=$k"))
    }
  }

  test("CosineSimilarity matches a reference Scala computation") {
    val rnd = new scala.util.Random(5)
    val vecs = Seq.fill(50)(Array.fill(16)(rnd.nextFloat() - 0.5f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("id", "v")
    val pairs = df.toDF("i", "va").join(df.toDF("j", "vb"), $"i" < $"j")
      .select($"i", $"j", CosineSimilarity($"va", $"vb").as("cos"))
      .as[(Long, Long, Double)].collect()
    def ref(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (k <- a.indices) {
        dot += a(k).toDouble * b(k); na += a(k).toDouble * a(k)
        nb += b(k).toDouble * b(k)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    pairs.foreach { case (i, j, cos) =>
      assert(cos === ref(vecs(i.toInt), vecs(j.toInt)), s"pair $i,$j")
    }
  }

  test("CosineSimilarity: length mismatch and zero vector yield NULL") {
    val df = Seq(
      (1L, Seq(1f, 2f), Seq(1f, 2f, 3f)),  // length mismatch
      (2L, Seq(0f, 0f), Seq(1f, 2f)),      // zero norm
      (3L, Seq(1f, 0f), Seq(1f, 0f))       // fine
    ).toDF("id", "a", "b")
    val got = df.select($"id", CosineSimilarity($"a", $"b").as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L) === None)
    assert(got(2L) === None)
    assert(got(3L) === Some(1.0))
  }

  test("minhash LSH finds exactly the exact-Jaccard pairs (planted dups)") {
    val exact = Dedup.jaccardPairs(spark, d)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(spark, d)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh === exact)
  }

  test("prefix filtering ≡ plain inverted-index Jaccard (lossless)") {
    val plain = Dedup.jaccardPairs(spark, d)
      .as[(Long, Long, Double)].collect().toSet
    val prefix = Dedup.jaccardPrefixPairs(spark, d)
      .as[(Long, Long, Double)].collect().toSet
    assert(plain.nonEmpty, "fixture should contain planted near-dups")
    assert(prefix === plain)
  }

  test("asymmetric prefix containment ≡ plain containment (lossless)") {
    val plain = Dedup.containmentPairs(spark, d)
      .as[(Long, Long, Double)].collect().toSet
    val prefix = Dedup.containmentPrefixPairs(spark, d)
      .as[(Long, Long, Double)].collect().toSet
    assert(plain.nonEmpty, "fixture should contain containment pairs")
    assert(prefix === plain)
  }

  test("prefix filtering is lossless on randomized corpora (jaccard + containment)") {
    // The pigeonhole arguments rest on exact integer ceilings — a float
    // t*sz (or an off-by-one in sz − ⌈t·sz⌉ + 1) silently loses pairs
    // only at specific size/threshold alignments, which one fixture
    // cannot sweep. Randomized small-vocab corpora force heavy shingle
    // overlap across many doc sizes; both prefix paths must equal a
    // plain Scala brute-force over the same shingle sets.
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 3) {
      val nDocs = 60
      val base: Map[Long, Set[String]] = (0 until nDocs).map { i =>
        val sz = 3 + rnd.nextInt(10)
        i.toLong -> rnd.shuffle((0 until 40).toList).take(sz)
          .map(w => s"w$w").toSet
      }.toMap
      // random corpora rarely reach J >= 0.8 — plant twins (J = 1) and
      // drop-one copies (J = (sz-1)/sz >= 0.8 for sz >= 5) so the
      // jaccard leg is exercised, not vacuous
      val planted: Map[Long, Set[String]] = (0 until 6).map { k =>
        val src = base(k.toLong)
        val copy = if (k % 2 == 0 || src.size < 5) src else src.tail
        (1000L + k) -> copy
      }.toMap
      val sets = base ++ planted
      val sh = sets.toSeq.flatMap { case (i, ss) => ss.map(s => (i, s)) }
        .toDF("doc_id", "s")
      def brute(score: (Int, Int, Int) => Double, t: Double) = (for {
        i <- sets.keys; j <- sets.keys if i < j
        c = sets(i).intersect(sets(j)).size
        v = score(c, sets(i).size, sets(j).size) if v >= t
      } yield (i, j)).toSet
      val bruteJac = brute((c, a, b) => c.toDouble / (a + b - c),
        Dedup.JaccardThreshold)
      val bruteCont = brute((c, a, b) => c.toDouble / math.min(a, b),
        Dedup.ContainmentThreshold)
      val gotJac = Dedup.verifyJaccardPairs(sh, Dedup.prefixCandidates(sh, 4, 5))
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val gotCont = Dedup.verifyContainmentPairs(sh,
          Dedup.containmentPrefixCandidates(sh, 3, 5))
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(gotJac === bruteJac, s"jaccard prefix lost pairs (trial $trial)")
      assert(gotCont === bruteCont, s"containment prefix lost pairs (trial $trial)")
      info(s"trial $trial: ${bruteJac.size} jaccard pairs, " +
        s"${bruteCont.size} containment pairs")
    }
  }

  test("simhash banding ≡ brute-force hamming pairs (pigeonhole complete)") {
    // NB: iterate a Seq, not the Map — a for-comprehension over a Map
    // yielding pairs rebuilds a Map and silently collapses duplicate keys
    val sig = Dedup.simhashSignatures(spark, d)
      .as[(Long, Long)].collect().toSeq
    val brute = (for {
      (i, si) <- sig; (j, sj) <- sig if i < j
      if java.lang.Long.bitCount(si ^ sj) <= Dedup.SimHashMaxHamming
    } yield (i, j)).toSet
    val banded = Dedup.simhashPairs(spark, d)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(banded === brute)
    assert(banded.nonEmpty, "fixture should contain simhash near-dups")
  }

  test("incremental dedup: best mixed-parity match per new doc") {
    // The asymmetric band join must agree with the symmetric LSH pair
    // list restricted to mixed-parity pairs: every output row is a new
    // (odd) doc matched to its best existing (even) doc, and the best
    // jaccard equals the max over that doc's mixed-parity minhash pairs.
    val inc = Dedup.incrementalDedup(spark, d)
      .as[(Long, Long, Double)].collect()
    assert(inc.nonEmpty)
    assert(inc.forall { case (n, o, j) =>
      n % 2 == 1 && o % 2 == 0 && j >= Dedup.JaccardThreshold })
    assert(inc.map(_._1).distinct.length === inc.length,
      "one best match per new doc")
    val mixed = Dedup.minhashLsh(spark, d)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => a % 2 != b % 2 }
      .map { case (a, b, j) =>
        if (a % 2 == 1) (a, b, j) else (b, a, j) }
    val bestByNew = mixed.groupBy(_._1).view
      .mapValues(_.map(_._3).max).toMap
    assert(inc.map(_._1).toSet === bestByNew.keySet)
    inc.foreach { case (n, _, j) =>
      assert(j === bestByNew(n), s"doc $n best-match jaccard") }
  }

  test("incremental dedup on a real source column (two-source corpus)") {
    // VERDICT r6 item 4: the batch key is a caller predicate, not a
    // parity stand-in. Construct a base corpus + a "crawl" batch where
    // some crawl docs duplicate base docs; dedup the crawl against the
    // base on the source column.
    val mk = (id: Long, src: String, text: String) => (id, src, text)
    val boiler = (0 until 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      mk(1L, "base", boiler),
      mk(2L, "base", boiler + " tail tail2 tail3"),
      mk(3L, "base", (100 until 140).map(i => s"z$i").mkString(" ")),
      // crawl: 10 duplicates base 1 exactly; 11 near-dups base 2;
      // 12 is novel and must NOT appear in the output
      mk(10L, "crawl", boiler),
      mk(11L, "crawl", boiler + " tail tail2 other"),
      mk(12L, "crawl", (200 until 240).map(i => s"q$i").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val got = Dedup.incrementalDedupOn(docs, $"source" === "crawl")
      .as[(Long, Long, Double)].collect()
      .map { case (n, o, j) => n -> (o, j) }.toMap
    // doc 10 is an exact copy of base doc 1
    assert(got(10L)._1 === 1L && got(10L)._2 === 1.0)
    // doc 11's best base match is doc 2 (shares the boilerplate + tails)
    assert(got.get(11L).map(_._1) === Some(2L))
    assert(got(11L)._2 >= Dedup.JaccardThreshold && got(11L)._2 < 1.0)
    // the novel crawl doc and every base doc stay out of the output
    assert(!got.contains(12L))
    assert(got.keySet.forall(Set(10L, 11L)))
    // never a crawl-vs-crawl or base-vs-base match
    assert(got.values.forall { case (o, _) => Set(1L, 2L, 3L)(o) })
  }

  test("exact dedup covers every doc exactly once") {
    val total = Dedup.exact(spark, d).agg(sum("n_copies")).as[Long].head()
    assert(total === Tables.documents(spark, d).count())
  }

  // ---- connected components ----

  private def cc(edges: (Long, Long)*): Map[Long, Long] =
    Dedup.connectedComponents(edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap

  test("connected components: chain, star, cycle, disjoint parts") {
    // 64-node chain: diameter 63 — converges only because the jump step
    // halves pointer depth per round (plain propagation would need >50
    // rounds and trip the MaxCcIterations backstop)
    val chain = cc((0L until 63L).map(i => (i, i + 1)): _*)
    assert(chain === (0L to 63L).map(_ -> 0L).toMap)

    // star centered on the HIGHEST id: min must flow through the center
    val star = cc(100L -> 7L, 100L -> 8L, 100L -> 9L)
    assert(star === Map(100L -> 7L, 7L -> 7L, 8L -> 7L, 9L -> 7L))

    // cycle + a separate component + duplicate/reversed edges
    val mixed = cc(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 2L,
      10L -> 11L, 11L -> 10L)
    assert(mixed === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("near-dup clusters: labels = min reachable, keep flags the rep") {
    val out = Dedup.nearDupClusters(spark, d)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(out.nonEmpty)
    val byCluster = out.groupBy(_._2)
    byCluster.foreach { case (cid, rows) =>
      assert(rows.map(_._1).min === cid, s"cluster $cid not labeled by min")
      assert(rows.count(_._4) === 1 && rows.find(_._4).get._1 === cid,
        s"cluster $cid: keep must flag exactly the representative")
      assert(rows.forall(_._3 === rows.length),
        s"cluster $cid: cluster_size mismatch")
      assert(rows.length >= 2, s"cluster $cid: singletons must be omitted")
    }
  }

  test("edge graphs round-trip through a parquet intermediate") {
    // With an edge scratch dir set, the shared edge memo writes the
    // graph to parquet once and every consumer reads it back — the
    // cluster-grade shared-intermediate path. Fresh sessions force new
    // memo keys, so each step below actually exercises the scratch dir.
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-edge-scratch").toString
    val before = Dedup.edgeScratchDir
    try {
      val expected = Dedup.nearDupClusters(spark, d)
        .as[(Long, Long, Long, Boolean)].collect().toSeq.sorted

      Dedup.edgeScratchDir = Some(tmp)
      val ss1 = spark.newSession()
      val viaWrite = Dedup.nearDupClusters(ss1, d)
        .as[(Long, Long, Long, Boolean)].collect().toSeq.sorted
      assert(viaWrite === expected)
      val edgeDirs = new java.io.File(tmp).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("edges_prefix_"))
      assert(edgeDirs.length === 1, "edge parquet intermediate not written")
      val writtenAt = edgeDirs.head.lastModified()

      // a SECOND session must consume the same parquet, not rebuild it
      val ss2 = spark.newSession()
      val viaRead = Dedup.nearDupClusters(ss2, d)
        .as[(Long, Long, Long, Boolean)].collect().toSeq.sorted
      assert(viaRead === expected)
      assert(edgeDirs.head.lastModified() === writtenAt,
        "second consumer rewrote the intermediate instead of reading it")
    } finally {
      Dedup.edgeScratchDir = before
      spark.catalog.clearCache()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("a partial edge intermediate without _SUCCESS is rebuilt, not served") {
    // ADVICE r6: a crashed writer leaves a directory with part files but
    // no _SUCCESS marker — serving it would silently hand a truncated
    // edge graph to every consumer. The protocol must rebuild it.
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-edge-partial").toString
    val before = Dedup.edgeScratchDir
    try {
      // plant crashed-writer debris at the exact path the memo will use
      val dirHash = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val partial = new java.io.File(s"$tmp/edges_minhash_$dirHash")
      assert(partial.mkdirs())
      java.nio.file.Files.writeString(
        partial.toPath.resolve("part-00000-dead.snappy.parquet"), "junk")

      Dedup.edgeScratchDir = Some(tmp)
      val ss = spark.newSession()
      val got = Dedup.minhashEdgesShared(ss, d).count()
      assert(got > 0, "rebuilt edge graph must be non-empty")
      assert(new java.io.File(partial, "_SUCCESS").exists(),
        "rebuild must leave a complete (_SUCCESS-marked) intermediate")
      assert(!new java.io.File(partial, "part-00000-dead.snappy.parquet")
        .exists(), "crashed-writer debris must be replaced")
    } finally {
      Dedup.edgeScratchDir = before
      spark.catalog.clearCache()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("LSH clusters: same invariants; members must pair at t=0.8") {
    val out = Dedup.nearDupClustersLsh(spark, d)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (cid, rows) =>
      assert(rows.map(_._1).min === cid)
      assert(rows.count(_._4) === 1 && rows.find(_._4).get._1 === cid)
      assert(rows.forall(_._3 === rows.length) && rows.length >= 2)
    }
    // every LSH-cluster member appears in the verified pair list (the
    // graph IS the minhashLsh output, so endpoints must come from it)
    val pairDocs = Dedup.minhashLsh(spark, d)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .flatMap(p => Seq(p._1, p._2)).toSet
    assert(out.map(_._1).toSet === pairDocs)
  }

  test("modalityCheck covers exactly the LSH pair set with a consistent flag") {
    val rows = Dedup.modalityCheck(spark, d)
      .as[(Long, Long, Double, Double, Boolean)].collect()
    val lsh = Dedup.minhashLsh(spark, d)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(rows.map(r => (r._1, r._2)).toSet === lsh)
    val emb = Tables.embeddings(spark, d).select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    rows.foreach { case (a, b, _, cRounded, agree) =>
      val c = cos(emb(a), emb(b))
      assert(math.abs(c - cRounded) < 1e-6, s"pair ($a,$b) cosine")
      assert(agree === (c >= Dedup.CosineLshThreshold), s"pair ($a,$b) flag")
    }
  }

  test("thresholdSweep: >=0.8 bin mass equals the t=0.8 pair operator") {
    val bins = Dedup.thresholdSweep(spark, d).as[(Double, Long)].collect()
    assert(bins.map(_._1).distinct.length === bins.length)
    bins.foreach { case (lo, n) =>
      assert(lo >= 0.5 && lo <= 0.9 && n > 0, s"bin $lo count $n")
    }
    // the histogram's upper bins must account for exactly the pairs the
    // production t=0.8 join finds (same lossless prefix machinery)
    val at08 = Dedup.jaccardPrefixPairs(spark, d).count()
    assert(bins.filter(_._1 >= 0.8).map(_._2).sum === at08)
  }

  test("dedupReport totals reconcile with the ops it composes") {
    val rep = Dedup.dedupReport(spark, d)
      .as[(String, Long, Long, Long, Long, Double)].collect()
    rep.foreach { case (src, n, ex, near, kept, rate) =>
      assert(kept === n - ex - near, s"source $src arithmetic")
      assert(rate ===
        BigDecimal((ex + near).toDouble / n)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val nDocs = Tables.documents(spark, d).count()
    assert(rep.map(_._2).sum === nDocs)
    // corpus-wide exact losers = Σ (n_copies − 1) over the exact groups
    val exactLosers = Dedup.exact(spark, d)
      .as[(Long, Long)].collect().map(_._2 - 1).sum
    assert(rep.map(_._3).sum === exactLosers)
    // near+exact losers together = the non-keeper members of the LSH
    // cluster graph ∪ exact losers (overlap counted once)
    val nonKeep = Dedup.nearDupClustersLsh(spark, d)
      .filter(!col("keep")).count()
    assert(rep.map(r => r._3 + r._4).sum >= nonKeep)
    assert(rep.map(_._4).sum <= nonKeep)
  }

  test("lshEval agrees with the pair sets it audits") {
    val Array((nTrue, nCand, nHit, recall, precision)) =
      Dedup.lshEval(spark, d)
        .as[(Long, Long, Long, Double, Double)].collect()
    val truth = Dedup.jaccardPrefixPairs(spark, d)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val cands = Dedup.minhashCandidates(spark, d)
      .as[(Long, Long)].collect().toSet
    assert(nTrue === truth.size && nCand === cands.size)
    assert(nHit === (truth intersect cands).size)
    assert(recall ===
      BigDecimal(nHit.toDouble / nTrue)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(precision ===
      BigDecimal(nHit.toDouble / nCand)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // verified LSH output ⊆ truth, and |it| = n_hit: what the banding
    // found and verified is exactly the audited hit set
    val lsh = Dedup.minhashLsh(spark, d)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(truth) && lsh.size === nHit)
  }

  test("dupSpans finds exactly the planted cross-doc passages, merged maximally") {
    // shared 12-word passage "s0..s11" planted in docs 1 and 2 at
    // different offsets; doc 3 carries TWO 8-word shared runs ("p0..p7"
    // also in doc 4) separated by unique filler; doc 5 is all-unique.
    // Filler vocab is disjoint per doc, so no accidental 5-gram dups.
    val passage = (0 until 12).map("s" + _).mkString(" ")
    val run = (0 until 8).map("p" + _).mkString(" ")
    val docs = Seq(
      (1L, s"a0 a1 a2 $passage a3 a4"),                 // span at pos 3
      (2L, s"$passage b0 b1"),                          // span at pos 0
      (3L, s"$run c0 c1 c2 c3 c4 $run"),                // spans at 0 and 13
      (4L, s"d0 $run d1 $run d2"),                      // spans at 1 and 10
      (5L, "e0 e1 e2 e3 e4 e5 e6 e7 e8 e9")
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpansOn(docs)
      .as[(Long, Int, Int, Long, Long)].collect().toSet
    // 12-word passage: 8 shingles, span_words 12; 8-word run: 4 shingles,
    // span_words 8 (exactly MinDupSpanWords). All shingles shared by 2 docs.
    assert(got === Set(
      (1L, 3, 12, 8L, 2L), (2L, 0, 12, 8L, 2L),
      (3L, 0, 8, 4L, 2L), (3L, 13, 8, 4L, 2L),
      (4L, 1, 8, 4L, 2L), (4L, 10, 8, 4L, 2L)))
    // sub-threshold spans are dropped: a 7-word shared run (3 shingles,
    // span_words 7 < 8) must not appear
    val short = Seq(
      (10L, "f0 f1 q0 q1 q2 q3 q4 q5 q6 f2"),
      (11L, "g0 q0 q1 q2 q3 q4 q5 q6 g1 g2")).toDF("doc_id", "text")
    assert(Dedup.dupSpansOn(short).count() === 0)
  }

  test("keepBest: longest member (min id on ties) represents each cluster") {
    val members = Dedup.nearDupClustersLsh(spark, d)
      .join(graft.Tables.documents(spark, d).select("doc_id", "n_chars"),
        "doc_id")
      .select("cluster_id", "cluster_size", "doc_id", "n_chars")
      .as[(Long, Long, Long, Long)].collect()
    val byCluster = members.groupBy(_._1)
    val best = Dedup.keepBest(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(best.map(_._1).toSet === byCluster.keySet)
    best.foreach { case (cid, keepId, size, keepChars, nDropped) =>
      val ms = byCluster(cid)
      assert(size === ms.head._2 && size === ms.length.toLong)
      assert(nDropped === size - 1)
      val maxChars = ms.map(_._4).max
      assert(keepChars === maxChars)
      assert(keepId === ms.filter(_._4 == maxChars).map(_._3).min)
    }
  }

  test("triangles match a brute-force motif count on a mixed graph") {
    // K4 on 1-4 (each node in 3 triangles, coeff 1.0), a triangle with
    // a pendant (5-6-7 + 7-8), and a 4-path (no triangles)
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (5L, 7L), (6L, 7L), (7L, 8L),
      (10L, 11L), (11L, 12L), (12L, 13L)).toDF("a", "b")
    val got = graft.operators.Dedup.trianglesOn(edges)
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    val es = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (5L, 7L), (6L, 7L), (7L, 8L),
      (10L, 11L), (11L, 12L), (12L, 13L))
    val adj = (es ++ es.map(_.swap)).groupBy(_._1)
      .map { case (v, xs) => v -> xs.map(_._2).toSet }
    val nodes = adj.keySet
    val triCount = nodes.map { v =>
      val nb = adj(v).toSeq
      v -> nb.combinations(2).count {
        case Seq(x, y) => adj(x)(y)
        case _         => false
      }.toLong
    }.toMap
    assert(got.keySet === nodes)
    nodes.foreach { v =>
      val (deg, t, coeff) = got(v)
      assert(deg === adj(v).size.toLong, s"node $v deg")
      assert(t === triCount(v), s"node $v triangles")
      if (deg > 1)
        assert(coeff.get ===
          BigDecimal(2.0 * triCount(v) / (deg * (deg - 1)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          s"node $v coeff")
      else assert(coeff.isEmpty, s"node $v deg-1 coeff must be null")
    }
    assert(got(1L)._3.contains(1.0)) // K4 member: perfectly closed
    assert(got(8L)._2 === 0L)        // pendant: no triangles
  }

  test("pageRank matches an independent integer power iteration") {
    // path 1-2-3 (degrees 1,2,1), a disconnected pair 10-11, and a
    // star 20-{21,22,23}: mixed degrees across components
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
      (20L, 22L), (20L, 23L)).toDF("a", "b")
    val got = graft.operators.Dedup.pageRankOn(edges)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

    // independent recompute: same truncating-Long recurrence
    import graft.operators.Dedup.{PageRankIters, PageRankScale,
      PageRankDampNum, PageRankDampDen}
    val und = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
        (20L, 22L), (20L, 23L)).flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = und.groupBy(_._1).map { case (v, es) => v -> es.length.toLong }
    val n = deg.size.toLong
    val r0 = PageRankScale / n
    val base = ((PageRankDampDen - PageRankDampNum) * r0) / PageRankDampDen
    var r = deg.keys.map(_ -> r0).toMap
    for (_ <- 1 to PageRankIters) {
      val in = und.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) / deg(u) }.sum
      }
      r = r.keys.map(v => v -> (base + PageRankDampNum * in(v) / PageRankDampDen)).toMap
    }
    assert(got.keySet === deg.keySet)
    deg.keys.foreach { v =>
      assert(got(v) === ((deg(v), r(v))), s"node $v")
    }
    // hub of the star out-ranks its leaves; total mass is conserved up
    // to per-node truncation loss (< n per round)
    assert(got(20L)._2 > got(21L)._2)
    val mass = got.values.map(_._2).sum
    assert(mass <= PageRankScale &&
      mass > PageRankScale - n * (PageRankIters + 1) * 100)
  }

  test("kcore peels pendants and chains, keeps cyclic structure") {
    // K4 (all in the 2-core), a triangle with a pendant tail 7-8-9
    // (tail peels in TWO rounds: 9 first, then 8), a pure 4-path
    // (peels entirely), and an isolated pair (peels entirely)
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (5L, 7L), (6L, 7L), (7L, 8L), (8L, 9L),
      (10L, 11L), (11L, 12L), (12L, 13L),
      (20L, 21L)).toDF("a", "b")
    val got = graft.operators.Dedup.kcoreOn(edges)
      .as[(Long, Long)].collect().toMap
    // 2-core = K4 at full degree 3 + the bare triangle at degree 2:
    // the multi-round tail (9 then 8) and all acyclic pieces are gone
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 2L, 6L -> 2L, 7L -> 2L))
  }

  test("kcore of an acyclic graph is empty; non-convergence is a plain " +
      "failure naming the dial") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(graft.operators.Dedup.kcoreOn(path).count() === 0L)
    // a long path needs one peel round per end-pair removed — deeper
    // than the cap ⇒ the operator must fail, not emit a non-fixpoint.
    // NOT a GraftRefusal (ADVICE r10): iteration-limit non-convergence
    // is an error the harness must record as -1, not a by-design -2.
    val deep = (1L to 22L).sliding(2).map(p => (p.head, p.last)).toSeq
      .toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Dedup.kcoreOn(deep).count()
    }
    assert(ex.getMessage.contains("KcoreMaxRounds"))
    assert(!graft.GraftRefusal.isRefusal(ex),
      "non-convergence must not classify as a scale refusal")
  }

  test("bandingSweep: monotone S-curve trade, production row = lshEval") {
    val rows = Dedup.bandingSweep(spark, d)
      .as[(Int, Int, Long, Long, Long, Option[Double], Option[Double])]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Dedup.BandingConfigs)
    rows.foreach { case (nb, r, cand, hit, _, _, _) =>
      assert(nb * r === Dedup.MinHashParams.K)
      assert(hit <= cand)
    }
    // more, narrower bands can only ADD collisions: candidates and
    // hits are monotone non-decreasing in the band count
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 >= a._3, s"cand shrank ${a._1}->${b._1}")
      assert(b._4 >= a._4, s"hits shrank ${a._1}->${b._1}")
    }
    // the 8x2 row audits the PRODUCTION banding — it must agree with
    // the standalone lshEval operator exactly
    val eval = Dedup.lshEval(spark, d)
      .as[(Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    val prod = rows.find(_._1 == 8).get
    assert((prod._5, prod._3, prod._4) === ((eval._1, eval._2, eval._3)))
  }

  test("clusterStats conserves the clustering's docs and clusters") {
    val labels = Dedup.nearDupClustersLsh(spark, d)
      .select($"cluster_id", $"cluster_size").as[(Long, Long)].collect()
    val stats = Dedup.clusterStats(spark, d)
      .as[(Long, Long, Long, Long)].collect()
    assert(stats.nonEmpty)
    assert(stats.map(_._3).sum === labels.length.toLong)
    assert(stats.map(_._2).sum === labels.map(_._1).distinct.length.toLong)
    stats.foreach { case (sz, nc, nd, rem) =>
      assert(nd === sz * nc, s"size $sz")
      assert(rem === nd - nc)
    }
  }

  test("splitLeakage counts only straddling near-dup pairs") {
    val got = graft.operators.Dedup.splitLeakage(spark, d)
      .as[(String, String, Long, Long)].collect()
    // every emitted group really straddles, names are canonical, and
    // the doc count never exceeds 2 docs per pair
    got.foreach { case (lo, hi, nPairs, nDocs) =>
      assert(lo < hi)
      assert(nPairs >= 1L && nDocs >= 2L && nDocs <= 2L * nPairs)
    }
    // cross-check the total straddling count against the raw edge list
    val split = graft.operators.Curation.splitAssign(spark, d)
      .select(col("doc_id"), col("split")).as[(Long, String)]
      .collect().toMap
    val edges = graft.operators.Dedup.minhashEdgesShared(spark, d)
      .as[(Long, Long)].collect()
    val expect = edges.count { case (a, b) => split(a) != split(b) }
    assert(got.map(_._3).sum === expect.toLong)
  }

  test("contaminationBlast BFS: planted chain stops at the horizon") {
    import org.apache.spark.sql.functions._
    // chain 1—2—3—4—5 plus an isolated edge 10—11; seed {1}: hops must
    // be 1→0, 2→1, 3→2, 4→3 and STOP (5 beyond the 3-hop horizon,
    // 10/11 unreachable). Also proves the anti-join: the cycle edge
    // 3—1 must not re-label 1.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 1L),
      (10L, 11L)).toDF("a", "b")
    val seeds = Seq(1L).toDF("doc_id")
    val got = Dedup.contaminationBlastOn(seeds, edges)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3))
    // two seeds in one component: each doc keeps its NEAREST seed's hop
    val got2 = Dedup.contaminationBlastOn(Seq(1L, 5L).toDF("doc_id"),
      edges).as[(Long, Int)].collect().toMap
    assert(got2 === Map(1L -> 0, 5L -> 0, 2L -> 1, 3L -> 1, 4L -> 1))
    // driver query: seeds are exactly the contaminated docs at hop 0
    val d0 = "/root/testdata/sf0.001"
    val blast = Dedup.contaminationBlast(spark, d0)
      .as[(Long, Int, String)].collect()
    val seedsExpect = graft.operators.Curation.contamination(spark, d0)
      .filter($"contaminated").select("doc_id").as[Long].collect().toSet
    assert(blast.filter(_._2 == 0).map(_._1).toSet === seedsExpect)
    blast.foreach { case (_, hop, split) =>
      if (hop == 0) assert(split === "test", "seeds are test docs")
    }
  }

  test("keepCentral picks the max-PageRank member of every cluster") {
    val kept = graft.operators.Dedup.keepCentral(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(kept.nonEmpty)
    val pr = graft.operators.Dedup.pageRank(spark, d)
      .select("doc_id", "pr_scaled").as[(Long, Long)].collect().toMap
    val members = graft.operators.Dedup.nearDupClustersLsh(spark, d)
      .select("cluster_id", "doc_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    kept.foreach { case (cid, keepId, size, keepPr, dropped) =>
      val ms = members(cid)
      assert(size === ms.size.toLong && dropped === size - 1)
      assert(keepPr === ms.map(pr).max, s"cluster $cid rank")
      assert(keepId === ms.filter(m => pr(m) == keepPr).min, s"cluster $cid")
    }
    // authority and length selectors must be compared on the SAME
    // clustering: same cluster ids, possibly different keepers
    val best = graft.operators.Dedup.keepBest(spark, d)
      .select("cluster_id").as[Long].collect().sorted
    assert(best.toSeq === kept.map(_._1).sorted.toSeq)
  }

  test("shingleDfProfile conserves postings; guard margin visible") {
    val rows = graft.operators.Dedup.shingleDfProfile(spark, d)
      .as[(Int, Long, Long, Long, Long, Boolean)].collect()
    // postings = distinct (doc, shingle) rows
    val postings = Tables.documents(spark, d)
      .select(col("doc_id"),
        explode(graft.functions.WordShingles(col("text"), 3)).as("s"))
      .distinct().count()
    assert(rows.map(_._4).sum === postings)
    rows.foreach { case (b, lo, _, _, maxDf, over) =>
      assert(lo === (1L << b))
      assert(maxDf >= lo && maxDf < 2 * lo, s"bucket $b max_df bounds")
      assert(over === (maxDf > graft.operators.Dedup.MaxNaiveShingleDf))
    }
    // fixture stays far inside the naive-join guard
    assert(rows.forall(!_._6))
  }

  test("dupRateBySource: counts match the underlying dedup queries") {
    val rows = Dedup.dupRateBySource(spark, d)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._2).sum === Tables.documents(spark, d).count())
    // exact-dup total = docs in multi-copy text groups (exact dedup's
    // duplicate mass plus one keeper per group)
    val exactTotal = Dedup.exact(spark, d)
      .filter(col("n_copies") > 1)
      .agg(coalesce(sum("n_copies"), lit(0L))).as[Long].head()
    assert(rows.map(_._3).sum === exactTotal)
    // near-dup total = members of the LSH cluster graph
    assert(rows.map(_._4).sum === Dedup.nearDupClustersLsh(spark, d).count())
    rows.foreach { r =>
      assert(r._3 <= r._2 && r._4 <= r._2)
      assert(r._5 === r._3 * 1000000L / r._2)
      assert(r._6 === r._4 * 1000000L / r._2)
    }
  }

  test("winnowingPairs: shared run yields a pair, exact dup is total") {
    def words(pfx: String, n: Int) = (1 to n).map(i => s"$pfx$i")
    val run = words("shared", 16) // 16-word common run
    val d1 = (words("a", 10) ++ run ++ words("a2", 6)).mkString(" ")
    val d2 = (words("b", 7) ++ run ++ words("b2", 9)).mkString(" ")
    val d3 = words("c", 30).mkString(" ")
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d3))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.winnowingPairsOn(docs)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // winnowing guarantee: a shared 16-word run (≥ W+k−1 = 8) must
    // surface ≥ 2 shared fingerprints → the pair row exists
    assert(got.contains((1L, 2L)), got.keySet.toString)
    // unrelated docs never pair with the run-sharers
    assert(!got.keySet.exists { case (a, b) =>
      (a == 3L || b == 3L) && (a != 4L && b != 4L) })
    // exact duplicate: identical fingerprint sets, overlap = 100%
    val (_, _, ns, fa, fb, ppm) = got((3L, 4L))
    assert(fa === fb && ns === fa && ppm === 1000000L)
    // overlap is containment-normalized: never exceeds 100%
    got.values.foreach(r => assert(r._6 <= 1000000L))
  }

  test("winnowing density stays ~1/W of shingle positions (10x corpus)") {
    // the 1/W density claim is the whole point of winnowing at scale:
    // pin it on a corpus 10x the spec fixtures. Random 40-word vocab
    // text; expected fingerprints/doc ≈ positions/W within 2x.
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 40).map(i => s"v$i")
    val docs = (1L to 200L).map { id =>
      (id, Seq.fill(120)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    import graft.operators.Dedup.{SpanShingleWords, WinnowW}
    val sh = docs.select(col("doc_id"), explode(
        graft.functions.WordShingles(col("text"), SpanShingleWords)).as("s"))
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    // recompute fingerprint counts through the operator's own window
    // (private pipeline — recount via a direct equivalent)
    val fps = docs.select(col("doc_id"), posexplode(
        graft.functions.WordShingles(col("text"), SpanShingleWords))
        .as(Seq("pos", "s")))
      .select(col("doc_id"), col("pos"),
        graft.operators.Dedup.md5hash60(col("s")).as("h"))
      .withColumn("minh", min("h").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy("pos").rowsBetween(-(WinnowW - 1), 0)))
      .filter(col("pos") >= WinnowW - 1)
      .select(col("doc_id"), col("minh")).distinct()
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    fps.foreach { case (id, n) =>
      val positions = sh(id)
      assert(n >= positions / (2 * WinnowW) && n <= 2 * positions / WinnowW,
        s"doc $id: $n fingerprints for $positions positions")
    }
  }

  test("lpaCommunities keeps bridged triangles separate, matches sim") {
    // two triangles joined by ONE bridge edge: single-linkage CC merges
    // them into one cluster; LPA's majority vote must keep them apart
    val es = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val got = graft.operators.Dedup.lpaCommunitiesOn(es.toDF("a", "b"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    // independent synchronous simulation with the same self-vote and
    // (count desc, label asc) tie-break
    val adj = (es ++ es.map(_.swap)).groupBy(_._1)
      .map { case (v, xs) => v -> xs.map(_._2) }
    var lbl = adj.keySet.map(v => v -> v).toMap
    for (_ <- 1 to graft.operators.Dedup.LpaIters) {
      lbl = adj.map { case (v, nbrs) =>
        val votes = (nbrs.map(lbl) :+ lbl(v))
          .groupBy(identity).map { case (l, xs) => l -> xs.size }
        v -> votes.toSeq.minBy { case (l, n) => (-n, l) }._1
      }
    }
    val sizes = lbl.values.groupBy(identity).map { case (l, xs) => l -> xs.size }
    assert(got.keySet === adj.keySet)
    adj.keySet.foreach { v =>
      assert(got(v)._1 === lbl(v), s"node $v label")
      assert(got(v)._2 === sizes(lbl(v)).toLong, s"node $v size")
    }
    // the two dense families end in DIFFERENT communities
    assert(got(1L)._1 !== got(11L)._1)
    assert(Seq(1L, 2L, 3L).map(got(_)._1).distinct.size === 1)
    assert(Seq(10L, 11L, 12L).map(got(_)._1).distinct.size === 1)
  }

  test("bandGeometry audit agrees with the dial and orders the S-curve") {
    val rows = Dedup.bandGeometry(spark, d).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val n = r.getAs[Long]("n_docs")
      val (b, rp) = Dedup.scaledBandGeometry(n)
      assert(r.getAs[Int]("bands") === b, s"bands at n=$n")
      assert(r.getAs[Int]("rows_per_band") === rp, s"rows at n=$n")
      assert(b * rp === Dedup.MinHashParams.K)
    }
    // wider rows sharpen the S-curve: recall at the operating threshold
    // and false-candidate rate at j=0.5 both fall monotonically
    val byRows = rows.map(r => r.getAs[Int]("rows_per_band") ->
      (r.getAs[Long]("recall_ppm"), r.getAs[Long]("fp_cand_ppm"))).toMap
    val ladder = byRows.keys.toSeq.sorted.map(byRows)
    assert(ladder.map(_._1) === ladder.map(_._1).sorted.reverse, "recall not decreasing")
    assert(ladder.map(_._2) === ladder.map(_._2).sorted.reverse, "fp rate not decreasing")
    // the dial's point: at (2, 8) only ~0.8% of moderate (j=0.5) pairs
    // collide vs ~90% at the default — while J=0.8 recall stays > 30%
    assert(byRows(2)._2 > 850000L && byRows(8)._2 < 10000L)
  }

  test("composite dial is cross-T stable: buckets at T=8 are exactly the " +
      "t<8 slice of T=16 (planes index-determined, never count-determined)") {
    // The invariant BOTH widenings (r13 CompositeLshTables 4→8, r14
    // LshBuckets.MaxTables 16→32) leaned on to keep every committed
    // oracle result byte-identical: a plane weight w(t,b,d) depends
    // only on the table INDEX, so widening the table count only ADDS
    // tables and never perturbs an existing bucket. Previously
    // guaranteed by comment + the downstream green gate (VERDICT r14
    // item 3); this pins it directly — it fails if anyone makes planes
    // (or the composed key layout) depend on how many tables a call
    // draws.
    val e = spark.range(64).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 31), j -> " +
        "cast(pmod(xxhash64(id, j), 1048576) / 524288.0 - 1.0 as float))")
        .as("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // the composed keys at any table count T, laid out the way
    // Dedup.compositeBuckets lays them out at CompositeLshTables
    def buckets(tables: Int): Set[(Long, Int, Long)] = rows(
      e.withColumn("bkts", LshBuckets(col("embedding"),
          tables * Dedup.CompositeLshArity, LshBuckets.MaxBits))
        .select(col("vec_id"),
          posexplode(array((0 until tables).map { k =>
            expr(s"shiftleft(element_at(bkts, ${2 * k + 1}), " +
              s"${LshBuckets.MaxBits}) + element_at(bkts, ${2 * k + 2})")
          }: _*)).as(Seq("t", "bucket"))))
    val production = rows(Dedup.compositeBuckets(e))
    assert(buckets(Dedup.CompositeLshTables) === production,
      "the composed key layout drifted from Dedup.compositeBuckets")
    val at16 = buckets(16) // 16 × arity(2) = 32 base tables = MaxTables
    assert(production === at16.filter(_._2 < 8),
      "widening T must only ADD tables — the t<8 buckets moved")
    assert(at16.count(_._2 >= 8) === at16.count(_._2 < 8),
      "T=16 must contribute one row per vector for each added table")
    // and at the expression level: the base-signature array at any
    // table count is a strict PREFIX of the array at MaxTables
    val vec = Array.tabulate(32)(i => (math.sin(i + 1.0) * 0.7).toFloat)
    val ad = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(vec)
    val full = LshBuckets.compute(ad, LshBuckets.MaxTables, LshBuckets.MaxBits)
    for (k <- Seq(1, 4, 8, 16, LshBuckets.MaxTables))
      assert(LshBuckets.compute(ad, k, LshBuckets.MaxBits).toSeq ===
        full.take(k).toSeq, s"table prefix differs at k=$k")
  }
}
