package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.pipeline.{FileBlooms, MergeTable}

/** Seeded model-based fuzz of shallow-clone divergence: a source table
  * and its zero-copy clone evolve INDEPENDENTLY through a random
  * interleaving of CoW merges, ledger deletes, purges, compactions,
  * re-clusterings and bloom-index refreshes — and every step, BOTH
  * tables (plus a mid-run clone-of-the-clone) must read exactly as
  * their own models, bloom point lookups must stay exact through
  * carried + refreshed sketches over mixed borrowed/local files, and
  * no operation on one table may ever move another. This composes the
  * round-12/13 clone surface (borrowed absolute refs, carried zone
  * AND bloom sidecars, constraint inheritance) in orders nobody
  * hand-wrote.
  */
class CloneFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-clonefuzz").toString

  private def rows(dir: String): Map[Long, String] =
    MergeTable.read(spark, dir).select("id", "name").as[(Long, String)]
      .collect().toMap

  test("seeded divergence fuzz: source, clone and clone-of-clone evolve independently, bloom lookups exact") {
    val rnd = new Random(97)
    val src = tmpDir()
    val domain = 240L
    def nameOf(k: Long, salt: Long): String = s"name-${k % 19}-$salt"

    var srcModel: Map[Long, String] =
      (0L until 120L).map(i => i -> nameOf(i, 0)).toMap
    MergeTable.create(spark, src, srcModel.toSeq.toDF("id", "name"),
      "id", nBuckets = 4)
    FileBlooms.build(spark, src, "name")
    var srcIndexed = MergeTable.latestVersion(spark, src)

    val clone = tmpDir() + "/fork"
    MergeTable.cloneTable(spark, src, clone)
    var cloneModel = srcModel
    var cloneIndexed = MergeTable.latestVersion(spark, clone)
    assert(FileBlooms.indexedColumns(spark, clone, cloneIndexed) == Seq("name"),
      "the clone must be born with the source's bloom sidecars")

    // the mid-run clone-of-the-clone: taken once divergence is real,
    // then frozen — its reads must stay at ITS snapshot forever
    var clone2: Option[(String, Map[Long, String])] = None

    def mutate(dir: String, model: Map[Long, String], salt: Long)
        : Map[Long, String] = rnd.nextInt(5) match {
      case 0 | 1 => // CoW merge: upserts + flagged deletes
        val ups = Seq.fill(1 + rnd.nextInt(8))(rnd.nextLong(domain)).distinct
          .map(k => (k, nameOf(k, salt), false))
        val dels = Seq.fill(rnd.nextInt(3))(rnd.nextLong(domain)).distinct
          .map(k => (k, "", true))
        val batch = (ups ++ dels).distinctBy(_._1)
        MergeTable.merge(spark, dir, batch.toDF("id", "name", "_del"),
          "id", deleteCol = Some("_del"))
        batch.foldLeft(model) { case (m, (k, v, del)) =>
          if (del) m - k else m + (k -> v) }
      case 2 => // ledger delete, sometimes followed by a purge
        val keys = Seq.fill(1 + rnd.nextInt(6))(rnd.nextLong(domain)).distinct
        MergeTable.deleteKeys(spark, dir, keys.toDF("id"), "id")
        if (rnd.nextBoolean()) MergeTable.purgeDeletes(spark, dir)
        model -- keys
      case 3 => // materialize / compact (sketch lines must survive carry)
        MergeTable.compact(spark, dir)
        model
      case 4 => // layout rewrite
        MergeTable.clusterBy(spark, dir, "name", filesPerBucket = 2)
        model
    }

    def checkBloom(dir: String, model: Map[Long, String]): Unit = {
      // advance the index to the table's latest version, then probe a
      // present value (if any) and a value no row has ever had
      val present = model.values.headOption.toSeq
      val probes = present :+ "never-written"
      probes.foreach { p =>
        val got = FileBlooms.readWhereEq(spark, dir, "name", Seq(p))
          .select("id").as[Long].collect().toSet
        val want = model.collect { case (k, v) if v == p => k }.toSet
        assert(got == want, s"bloom lookup '$p' on $dir diverged")
      }
    }

    for (step <- 1 to 24) {
      if (rnd.nextBoolean()) {
        srcModel = mutate(src, srcModel, step.toLong)
        val v = MergeTable.latestVersion(spark, src)
        FileBlooms.refresh(spark, src, "name", srcIndexed, v)
        srcIndexed = v
      } else {
        cloneModel = mutate(clone, cloneModel, 1000L + step)
        val v = MergeTable.latestVersion(spark, clone)
        FileBlooms.refresh(spark, clone, "name", cloneIndexed, v)
        cloneIndexed = v
      }
      // both tables read as their own models — divergence is total
      assert(rows(src) == srcModel, s"step $step: source diverged")
      assert(rows(clone) == cloneModel, s"step $step: clone diverged")
      checkBloom(src, srcModel)
      checkBloom(clone, cloneModel)
      // the frozen clone-of-clone never moves
      clone2.foreach { case (d, m) =>
        assert(rows(d) == m, s"step $step: frozen clone-of-clone moved") }
      if (step == 12) {
        val d = tmpDir() + "/fork2"
        MergeTable.cloneTable(spark, clone, d)
        assert(rows(d) == cloneModel,
          "a clone of the clone must read the clone's model")
        // borrowed-of-borrowed refs resolve through the carried blooms
        assert(FileBlooms.indexedColumns(
          spark, d, MergeTable.latestVersion(spark, d)) == Seq("name"))
        checkBloom(d, cloneModel)
        clone2 = Some((d, cloneModel))
      }
    }

    // the hybrid count over the diverged clone agrees with its model
    spark.read.format("graft").option("path", clone).load()
      .createOrReplaceTempView("clone_fuzz_t")
    assert(spark.sql("SELECT COUNT(*) AS n FROM clone_fuzz_t WHERE id >= 0")
      .as[Long].head() == cloneModel.size.toLong)
  }
}
