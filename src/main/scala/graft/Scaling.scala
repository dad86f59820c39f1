package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scale-factor inflater: writes an F-fold copy of a star-schema
  * fixture directory so `graft.Bench` can time every cell at F× the
  * data (`SPARK_GRAFT_SF_DIR=<dest>`), the shape of the reference's own
  * 1–4-node table (`timings.txt:1-17`).
  *
  * Method: KEY-SHIFTED SELF-UNION — factor F concatenates F copies of
  * every fact table with all join keys shifted by `copy * KeyShift`,
  * preserving uniqueness, referential integrity and every per-copy
  * distribution. Two columns need more than a key shift to keep the
  * WORKLOAD shape honest at F×:
  *
  *   - `documents.text`: verbatim copies would make every doc an exact
  *     F-plex — near-dup candidate pairs would then grow ~F² and the
  *     timings would show superlinear scaling that says nothing about
  *     the plans. Each copy instead maps letters through a per-copy
  *     AFFINE permutation of the alphabet (`translate`, codegen'd; see
  *     [[permAlphabet]] — distinct maps up to ×[[AffineTextPeriod]], so
  *     no exact cross-copy twins recur): within-copy structure
  *     (shingle df profile, doc lengths, dup clusters) is IDENTICAL to
  *     the base corpus under renamed tokens, while cross-copy shingle
  *     overlap is ~zero — F× more data of the same character, which is
  *     what a bigger crawl looks like.
  *   - `embeddings.embedding`: copies rotate the vector cyclically by
  *     `copy` positions (dim 64 ≥ max copies). Norms and within-copy
  *     geometry are preserved exactly; cross-copy vectors point in
  *     unrelated directions, so embedding near-dup stays linear and the
  *     fixed ANN query set (vec_id < NumQueries, all in copy 0)
  *     searches an F× corpus — the production "corpus grows, queries
  *     don't" shape.
  *
  * Run: `sbt "runMain graft.Scaling <base> <factor> <dest>"`, at
  * `local[$SPARK_GRAFT_CPUS]`. SCALING.json and SCALE.md record the
  * measurements of the retired multi-factor harness that used to live
  * here. */
object Scaling {
  /** Key offset between copies, 2²⁶: above every base key (max ~1.5e6 at
    * sf0.1; [[inflate]] requires it), and 63·2²⁶ + a base key stays below
    * 2³² at the 64-copy cap, so inflated ids fit the guards that need ids
    * under 2³² (`lpaCommunities`' tie key) and the packed `cents·10¹⁰ + key`
    * tie keys in `Relational`. */
  val KeyShift: Long = 1L << 26

  /** The join-key columns each fact table's copies shift by
    * `copy * KeyShift`; tables not named here are copied once. */
  private[graft] val ShiftedKeys: Seq[(String, Seq[String])] = Seq(
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"), "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def main(args: Array[String]): Unit = {
    require(args.length == 3 && args(1).toIntOption.exists(_ >= 1),
      "usage: graft.Scaling <base dir> <factor >= 1> <dest dir>")
    val Array(base, factor, dest) = args
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = Graft.builder()
      .master(s"local[$cpus]")
      .appName("graft-inflate")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try inflate(spark, base, factor.toInt, dest) finally spark.stop()
  }

  /** Slopes of the per-copy affine letter maps — the units of ℤ/26
    * (integers coprime to 26), so every (a, b) pair is a bijection of
    * the alphabet. */
  private val AffineSlopes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Copy k's letter permutation, as the `translate` target alphabet.
    *
    *   - fixed-density (default): AFFINE map i → (a·i + b) mod 26 with
    *     a = [[AffineSlopes]][(k/26) mod 12], b = k mod 26 — copy 0 is
    *     the identity, copies 0..25 are exactly the old Caesar
    *     rotations (so factors ≤ 26 are byte-identical to every prior
    *     artifact), and all 312 maps below the period are DISTINCT.
    *     Two distinct affine maps agree on at most gcd(a₁−a₂, 26) ≤ 2
    *     letters (zero when the slopes match), so any doc containing
    *     ≥ 3 distinct letters never collides verbatim across copies:
    *     no exact cross-copy twins on real text up to ×312, the
    *     rotation-wrap flaw (VERDICT r11 item 1) removed.
    *   - dup-heavy: the pure Caesar rotation i → (i + k) mod 26, period
    *     26 — factors past 26 repeat rotations and plant ~F²/26 exact
    *     cross-copy twins (30.4 k pairs at ×32, 251 k at ×64), the
    *     realistic duplicate-laden crawl regime behind SCALING.json's
    *     `*_dupheavy` rows. */
  private[graft] def permAlphabet(alpha: String, k: Int, dupHeavy: Boolean): String =
    if (dupHeavy) alpha.drop(k % 26) + alpha.take(k % 26)
    else {
      val a = AffineSlopes((k / 26) % AffineSlopes.length)
      val b = k % 26
      (0 until 26).map(i => alpha((a * i + b) % 26)).mkString
    }

  /** Highest factor with distinct affine text maps (12 slopes × 26
    * offsets). */
  val AffineTextPeriod: Int = AffineSlopes.length * 26

  /** Writes the F-fold key-shifted self-union of the tables at `base`
    * into `dest` (same file layout, so `SparkEntry.queries` run on it
    * unchanged), text in the FIXED-DENSITY regime of [[permAlphabet]].
    * Refuses a base whose [[ShiftedKeys]] fall outside [0, KeyShift).
    * Idempotent per (base, factor, KeyShift): skips when the dest
    * `_INFLATED` marker exists AND records the same parameters (a marker
    * from another base, factor or shift forces a rewrite, so a reused
    * scratch dir can never serve the wrong data). */
  def inflate(spark: SparkSession, base: String, factor: Int, dest: String): Unit = {
    // the per-copy embedding rotation (below) has only dim = 64 distinct
    // rotations: copy 64 would repeat copy 0's directions verbatim and
    // reintroduce the F² duplicate-pair blowup the rotation exists to
    // avoid, silently invalidating the measurement — refuse rather than
    // mismeasure
    require(factor <= 64,
      s"inflate refused: factor $factor > 64 distinct embedding " +
        "rotations (dim 64); copies would repeat directions and the " +
        "near-dup workload would go quadratic in F")
    val markerLine = s"base=$base factor=$factor keyShift=$KeyShift\n"
    val marker = java.nio.file.Paths.get(dest, "_INFLATED")
    if (java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.readString(marker) == markerLine) {
      System.err.println(s"[scaling] reusing inflated x$factor at $dest")
      return
    }
    val t0 = System.nanoTime()
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase

    /** Copy `k`'s non-key columns; copy 0 is the base table. */
    def recast(name: String, d: DataFrame, k: Int): DataFrame = name match {
      case "documents" if k > 0 => d.withColumn("text", translate(col("text"),
        lower + upper, permAlphabet(lower, k, dupHeavy = false) +
          permAlphabet(upper, k, dupHeavy = false)))
      case "embeddings" if k > 0 => // dim = 64 > k: rotate by k positions
        d.withColumn("embedding", expr(
          s"concat(slice(embedding, ${k + 1}, 64 - $k), slice(embedding, 1, $k))")
          .cast("array<float>"))
      case _ => d
    }

    for (name <- Seq("region", "nation") ++ ShiftedKeys.map(_._1)) {
      // events ships TIMESTAMP(NANOS) in some generations: route through
      // Tables loaders so the normalized schema lands in the scratch copy
      val src = name match {
        case "events" => Tables.events(spark, base)
        case _ => Tables.load(spark, base, name)
      }
      val keys = ShiftedKeys.toMap.getOrElse(name, Nil)
      if (keys.nonEmpty) { // least/greatest need 2+ arguments; 0 is in range
        val range = src.agg(min(least(keys.map(col) :+ lit(0L): _*)),
          max(greatest(keys.map(col) :+ lit(0L): _*))).head()
        require(range.isNullAt(0) || (range.getLong(0) >= 0 && range.getLong(1) < KeyShift),
          s"inflate refused: $name keys ${keys.mkString(", ")} span " +
            s"[${range.get(0)}, ${range.get(1)}], outside [0, KeyShift = $KeyShift)")
      }
      val out = if (keys.isEmpty) src else (0 until factor).map { k =>
        keys.foldLeft(recast(name, src, k))((d, c) => d.withColumn(c, col(c) + lit(k * KeyShift)))
      }.reduce(_ unionAll _)
      out.write.mode("overwrite").parquet(s"$dest/$name.parquet")
    }
    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.writeString(marker, markerLine)
    System.err.println(
      f"[scaling] inflated x$factor to $dest in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
