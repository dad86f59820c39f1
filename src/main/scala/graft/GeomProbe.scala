package graft

import org.apache.spark.sql.functions._

/** Dev-only probe: measured candidate counts per band geometry on an
  * inflated corpus (validates the `dedup_band_geometry` audit's
  * S-curve predictions against ground truth). Not part of the library
  * surface. */
object GeomProbe {
  def main(args: Array[String]): Unit = {
    val spark = Graft.builder().master("local[32]")
      .appName("geomprobe").config("spark.sql.shuffle.partitions", "64")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = args.headOption.getOrElse("/tmp/graft_scaling/x64")
    val docs = Tables.documents(spark, d)
    val sh = docs.select(col("doc_id"),
        explode(graft.functions.WordShingles(col("text"), 3)).as("s"))
      .distinct().localCheckpoint()
    for ((b, r) <- Seq((8, 2), (4, 4), (2, 8))) {
      val bands = operators.Dedup.minhashBandsGeomOn(sh, b, r).localCheckpoint()
      val cands = bands.toDF("i", "band", "bkey")
        .join(bands.toDF("j", "band2", "bkey2"),
          col("band") === col("band2") && col("bkey") === col("bkey2") &&
            col("i") < col("j"))
        .select("i", "j").distinct().count()
      println(s"RESULT dir=$d geom=${b}x$r cands=$cands")
    }
    spark.stop()
  }
}
