package graft

import org.scalatest.funsuite.AnyFunSuite

/** The reliable-checkpoint knob (r7 VERDICT item 8): iterative loops
  * default to `localCheckpoint` (executor-pinned blocks — fragile to
  * executor loss at cluster scale) and swap onto reliable
  * `checkpoint()` into `SPARK_GRAFT_CHECKPOINT_DIR`. The swap must be
  * result-invariant — including the `Observation`-carried convergence
  * counts the CC/k-core loops read from the SAME checkpoint action —
  * and must actually write round state into the directory. */
class CheckpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val d = "/root/testdata/sf0.001"

  test("loops through a reliable checkpoint dir are result-identical and write state") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    try {
      def rows(name: String): Seq[String] =
        SparkEntry.queries(name)(spark, d).collect().map(_.toString).toSeq
      // CC (Observation convergence), k-core (Observation edge counts),
      // Lloyd k-means (per-step codebook), BPE (per-merge token state)
      val names = Seq("dedup_clusters", "dedup_kcore",
        "ann_topk_ivf_kmeans", "text_bpe_vocab")
      val before = names.map(n => n -> rows(n)).toMap
      assert(Checkpoints.checkpointDir.isEmpty,
        "test env unexpectedly sets SPARK_GRAFT_CHECKPOINT_DIR")
      Checkpoints.checkpointDir = Some(dir)
      try {
        for (n <- names)
          assert(rows(n) === before(n), s"$n diverged under reliable checkpointing")
      } finally Checkpoints.checkpointDir = None
      val written = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(written > 0, s"no checkpoint files written under $dir")
      assert(spark.sparkContext.getCheckpointDir.exists(_.contains(
        java.nio.file.Paths.get(dir).getFileName.toString)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
