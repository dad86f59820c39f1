package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the scale-factor inflater [[Scaling.inflate]] end to end at ×2,
  * and its two text-inflation regimes
  * (VERDICT r11 item 1): the default FIXED-DENSITY mode must produce
  * pairwise-distinct letter permutations across every copy up to the
  * affine period — so text-dedup scaling rows measure plan behavior,
  * never F²-growing exact-twin output — while the LABELED dup-heavy
  * mode keeps the period-26 rotation whose wrap plants the exact
  * cross-copy twins the duplicate-laden-crawl rows exist to measure. */
class ScalingInflateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val lower = "abcdefghijklmnopqrstuvwxyz"

  test("inflate x2: fact tables double, dimensions do not, keys stay " +
      "unique, copy 1's text is the affine map, and a rerun reuses the dir") {
    val base = "/root/testdata/sf0.001"
    val dest = java.nio.file.Files.createTempDirectory("graft-inflate").toFile
    try {
      Scaling.inflate(spark, base, 2, dest.toString)
      def rows(dir: String, t: String) = Tables.load(spark, dir, t).count()
      for (t <- Seq("lineitem", "orders", "documents", "embeddings"))
        assert(rows(dest.toString, t) === 2 * rows(base, t), t)
      for (t <- Seq("region", "nation"))
        assert(rows(dest.toString, t) === rows(base, t), t)
      for ((t, key) <- Seq("orders" -> "o_orderkey", "documents" -> "doc_id")) {
        val df = Tables.load(spark, dest.toString, t)
        assert(df.select(key).distinct().count() === df.count(), s"$t.$key")
      }
      for ((t, keys) <- Scaling.ShiftedKeys; k <- keys) {
        val top = Tables.load(spark, dest.toString, t).agg(max(col(k))).head()
        assert(top.getAs[Number](0).longValue < (1L << 32), s"$t.$k: shifted key past 2^32")
      }
      val upper = lower.toUpperCase
      val expected = Tables.load(spark, base, "documents").select(
        (col("doc_id") + lit(Scaling.KeyShift)).as("doc_id"),
        translate(col("text"), lower + upper,
          Scaling.permAlphabet(lower, 1, dupHeavy = false) +
            Scaling.permAlphabet(upper, 1, dupHeavy = false)).as("text"))
      val copy1 = Tables.load(spark, dest.toString, "documents")
        .filter(col("doc_id") >= Scaling.KeyShift).select("doc_id", "text")
      assert(copy1.exceptAll(expected).isEmpty &&
        expected.exceptAll(copy1).isEmpty, "copy 1 text != translate(base)")
      // part-file names carry the writing job's id: a rewrite renames them
      def parts() = new java.io.File(dest, "lineitem.parquet").list().sorted.toSeq
      val before = parts()
      Scaling.inflate(spark, base, 2, dest.toString)
      assert(parts() === before, "same marker must reuse, not rewrite")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dest)
  }

  test("fixed-density copies 0..25 are the old Caesar rotations — " +
      "prior artifacts at factors <= 26 stay byte-comparable") {
    for (k <- 0 until 26)
      assert(Scaling.permAlphabet(lower, k, dupHeavy = false) ===
        lower.drop(k) + lower.take(k), s"copy $k")
  }

  test("fixed-density maps are pairwise-distinct bijections up to the " +
      "affine period") {
    val maps = (0 until Scaling.AffineTextPeriod)
      .map(k => Scaling.permAlphabet(lower, k, dupHeavy = false))
    assert(maps.distinct.size === Scaling.AffineTextPeriod)
    maps.zipWithIndex.foreach { case (m, k) =>
      assert(m.sorted.mkString === lower, s"copy $k is not a bijection")
    }
  }

  test("two distinct fixed-density maps agree on at most 2 letters — " +
      "docs with >= 3 distinct letters never collide across copies") {
    val maps = (0 until Scaling.AffineTextPeriod)
      .map(k => Scaling.permAlphabet(lower, k, dupHeavy = false))
    for (i <- maps.indices; j <- (i + 1) until maps.size) {
      val agree = (0 until 26).count(p => maps(i)(p) == maps(j)(p))
      assert(agree <= 2,
        s"copies $i and $j agree on $agree letters (gcd bound is 2)")
    }
  }

  test("dup-heavy maps wrap at period 26 (the planted-twin mechanism); " +
      "fixed-density maps at the same offsets do not") {
    assert(Scaling.permAlphabet(lower, 3, dupHeavy = true) ===
      Scaling.permAlphabet(lower, 29, dupHeavy = true))
    assert(Scaling.permAlphabet(lower, 3, dupHeavy = false) !==
      Scaling.permAlphabet(lower, 29, dupHeavy = false))
  }
}
