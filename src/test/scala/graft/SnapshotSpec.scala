package graft

import java.math.{BigDecimal => JBigDecimal}
import java.net.URI
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.pipeline.{FileBlooms, MergeTable}

/** The local file system under the `countfs` scheme, counting opens by
  * file name — how the specs below see which metadata files a read
  * opens. */
class CountingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.opens.computeIfAbsent(f.getName, _ => new AtomicInteger)
      .incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  val opens = new ConcurrentHashMap[String, AtomicInteger]()
  def count(name: String): Int = Option(opens.get(name)).fold(0)(_.get)
}

/** [[MergeTable.Snapshot]]: one read of a version parses its manifest
  * once and loads each sidecar at most once, whatever the pruning, the
  * plan rules and the scan ask of it; the Bloom probe hashes on the
  * driver exactly as the job form did; the snapshot's schema is the
  * schema a read of the version has. */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  /** A 16-bucket corpus shaped like the benchmark's `table_read` one,
    * with a Bloom sidecar on `text`; read back through `countfs`. */
  private lazy val corpus: (String, Int, Seq[(Long, String, String, Long)]) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    val dir = s"${Files.createTempDirectory("graft-snapshot")}/corpus"
    val rows = (1L to 600L).map(i =>
      (i, s"doc ${i * 7919 % 600} text", if (i % 3 == 0) "de" else "en", i * 37 % 1000))
    MergeTable.create(spark, dir, rows.toDF("doc_id", "text", "lang", "n_chars"),
      "doc_id", nBuckets = 16)
    val v = FileBlooms.build(spark, dir, "text")
    (s"countfs://$dir", v, rows)
  }

  private def table(path: String, v: Int): DataFrame =
    spark.read.format("graft").option("version", v.toString).load(path)

  /** `read`'s (manifest opens, zone sidecar opens) of version `v`. */
  private def opensOf(v: Int)(read: => Unit): (Int, Int) = {
    CountingFileSystem.opens.clear()
    read
    (CountingFileSystem.count(s"_v$v.manifest"), CountingFileSystem.count(s"_v$v.zones"))
  }

  private def assertOnce(what: String, opens: (Int, Int)): Unit = {
    assert(opens._1 == 1, s"$what opened the manifest ${opens._1} times")
    assert(opens._2 <= 1, s"$what opened the zone sidecar ${opens._2} times")
  }

  test("a graft key filter opens its manifest once and its zones at most once") {
    val (path, v, rows) = corpus
    var got: Array[(Long, String)] = null
    val opens = opensOf(v) {
      got = table(path, v).filter(col("doc_id") === 77L)
        .select("doc_id", "text").as[(Long, String)].collect()
    }
    assert(got.toSeq == rows.filter(_._1 == 77L).map(r => (r._1, r._2)))
    assertOnce("the key filter", opens)
  }

  test("ORDER BY … LIMIT 5 opens its manifest once and its zones at most once") {
    val (path, v, rows) = corpus
    var got: Seq[Long] = null
    val opens = opensOf(v) {
      got = table(path, v).orderBy(col("n_chars").desc, col("doc_id")).limit(5)
        .select("doc_id").as[Long].collect().toSeq
    }
    assert(got == rows.sortBy(r => (-r._4, r._1)).take(5).map(_._1))
    assertOnce("the top-5", opens)
  }

  test("count/min/max opens its manifest once and its zones at most once") {
    val (path, v, rows) = corpus
    var got: (Long, Long, Long) = null
    val opens = opensOf(v) {
      got = table(path, v).agg(count(lit(1)), min("doc_id"), max("doc_id"))
        .as[(Long, Long, Long)].head()
    }
    assert(got == ((rows.size.toLong, 1L, rows.size.toLong)))
    assertOnce("the metadata aggregate", opens)
  }

  test("FileBlooms.readWhereEq opens its manifest once and its zones at most once") {
    val (path, v, rows) = corpus
    val probe = rows(41)._2
    var got: Set[Long] = null
    val opens = opensOf(v) {
      got = FileBlooms.readWhereEq(spark, path, "text", Seq(probe), v)
        .select("doc_id").as[Long].collect().toSet
    }
    assert(got == rows.filter(_._2 == probe).map(_._1).toSet)
    assertOnce("the Bloom lookup", opens)
  }

  test("driver probe hashes equal the job form for every probe type") {
    val probes: Seq[(Any, DataType)] = Seq(
      (42L, LongType), (-7, IntegerType), (7, LongType), ("tag-42", StringType),
      ("", StringType), (3.25, DoubleType), (-0.0, DoubleType),
      (new JBigDecimal("12.340"), DecimalType(10, 3)),
      (java.sql.Date.valueOf("2024-02-29"), DateType),
      (java.sql.Timestamp.valueOf("2024-03-31 02:30:00.123456"), TimestampType),
      ("2024-03-31 02:30:00", TimestampType))
    probes.foreach { case (v, dt) =>
      val job = spark.range(1).select(xxhash64(lit(v).cast(dt))).head().getLong(0)
      assert(FileBlooms.probeHash(v, dt) == job, s"$v at $dt")
    }
  }

  test("a Bloom-pruned readWhereEq runs exactly one job") {
    val (path, v, rows) = corpus
    val probe = rows(7)._2
    val (kept, total) = FileBlooms.prunedFilesEq(spark, path, "text", Seq(probe), v)
    assert(kept.size < total, s"the lookup must prune: ${kept.size}/$total")
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val got = try {
      val r = FileBlooms.readWhereEq(spark, path, "text", Seq(probe), v).collect()
      Bridge.drainListenerBus(spark)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(got.map(_.getAs[String]("text")).toSeq == rows.filter(_._2 == probe).map(_._2))
    assert(jobs.get == 1, s"${jobs.get} jobs")
  }

  test("the snapshot's schema is the schema a read gives: plain, ledgered, evolved") {
    val dir = s"${Files.createTempDirectory("graft-snapshot-schema")}/t"
    def same(what: String): Unit = {
      val want = MergeTable.read(spark, dir).schema
      assert(MergeTable.snapshot(spark, dir).schema == want, what)
      assert(spark.read.format("graft").load(dir).schema == want, what)
    }
    MergeTable.create(spark, dir,
      (1L to 40L).map(i => (s"n$i", i, Array(i.toInt))).toDF("name", "id", "xs"), "id",
      nBuckets = 4)
    same("plain")
    MergeTable.deleteKeys(spark, dir, Seq(3L, 9L).toDF("id"), "id")
    assert(MergeTable.read(spark, dir).schema.head.name == "id",
      "the ledger's anti-join puts the key first")
    same("ledgered")
    MergeTable.merge(spark, dir, Seq((50L, "n50", Array(1), 2.5)).toDF("id", "name", "xs", "w"),
      "id", allowSchemaEvolution = true)
    same("evolved")
  }
}
