package graft

import graft.ops.{Bpe, Graph}

/** [[graft.ops.Checkpointing]] — reliable (`checkpoint` against a dir)
  * and executor-local (`localCheckpoint`) lineage truncation must be
  * interchangeable for VALUES: the mode buys fault-tolerance at 100 TB,
  * never a different answer. Proven on both iterative trainers.
  */
class CheckpointModeSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-ckpt-$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  // ring + chords + a dangling sink, enough structure for 6 rounds
  private def ring = (Seq.tabulate(40)(i => (i.toLong, ((i + 1) % 40).toLong)) ++
    Seq((0L, 20L), (5L, 25L), (10L, 30L), (3L, 41L))) // 41 is dangling
    .toDF("src", "dst")

  test("pageRank: reliable checkpoint produces bit-identical ranks") {
    val df = ring
    val local = Graph.pageRank(df, iterations = 6)
      .as[(Long, Long)].collect().toMap
    val reliable = Graph.pageRank(df, iterations = 6,
        checkpointDir = Some(tmpDir("pr")))
      .as[(Long, Long)].collect().toMap
    assert(reliable == local)
    assert(local.nonEmpty)
  }

  test("pageRank: a reliable checkpoint dir is set once, not once per round") {
    // the context keeps checkpoints under <dir>/<uuid>; re-pointing it
    // at the same dir every round would make a uuid dir per call
    val d = tmpDir("once")
    Graph.pageRank(ring, iterations = 6, checkpointDir = Some(d)).collect()
    val made = new java.io.File(d).listFiles().filter(_.isDirectory)
    assert(made.length == 1, made.map(_.getName).mkString(", "))
  }

  test("BPE train: reliable checkpoint learns the identical merge list") {
    val docs = Seq(
      "low lower lowest slow slower slowest",
      "new newer newest flow flower flows",
      "low low lower newest newest slow").toDF("text")
    val local = Bpe.train(docs, numMerges = 12)
    val reliable = Bpe.train(docs, numMerges = 12,
      checkpointDir = Some(tmpDir("bpe")))
    assert(reliable == local)
    assert(local.nonEmpty)
  }
}
