package graft

import graft.ops.SizedSession

class SizedSessionSpec extends SparkSpec {

  private val Threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  test("a sized child carries the caller's runtime confs but not its shuffle width") {
    val parent = spark.newSession()
    parent.conf.set("spark.sql.shuffle.partitions", "8")
    parent.conf.set(Threshold, "96")
    parent.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val child = SizedSession.forRows(parent, Some(1L))
    assert(child ne parent)
    assert(child.conf.get("spark.sql.shuffle.partitions") == "1")
    assert(child.conf.get(Threshold) == "96")
    assert(child.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(parent.conf.get("spark.sql.shuffle.partitions") == "8")
  }

  test("children are cached per parent instance: same parent same child, distinct parents distinct children") {
    val a = spark.newSession()
    val b = spark.newSession()
    val ca = SizedSession.forRows(a, Some(1L))
    assert(ca ne a)
    assert(SizedSession.forRows(a, Some(1L)) eq ca)
    val cb = SizedSession.forRows(b, Some(1L))
    assert(cb ne b)
    assert(cb ne ca)
    assert(SizedSession.forRows(b, Some(1L)) eq cb)
  }
}
