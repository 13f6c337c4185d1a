package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** Total ordering without the hidden double computation of a bare
  * `orderBy`.
  *
  * `orderBy` plans a range-partitioned global sort, and a
  * RangePartitioner needs bounds: Spark first runs a SAMPLING job over
  * the sort's child, then the sort's shuffle map job runs the child
  * AGAIN — nothing caches between the two. When the child is an
  * expensive subtree with no exchange of its own directly below the
  * sort (a broadcast-joined all-pairs scorer, a winnowing scan, a UDF
  * derive), the whole computation runs twice per execution. Measured at
  * sf0.1: `emb_neardup_exact` ran its 3 s all-pairs join in two
  * back-to-back jobs; `doc_dup_passages` its winnow+group subtree as a
  * 5.8 s sample job then a 10.1 s sort job.
  *
  * Gathering to one partition first (`repartition(1)
  * .sortWithinPartitions`) also runs the child once, but funnels
  * O(corpus) rows (`doc_langid`, `doc_dup_passages`, …) through one
  * task: slower with more cores. Here the child is a
  * [[Checkpointing.shared]] frame: the range sampler's job fills its
  * blocks, the sort's shuffle reads them, and the sort stays a
  * distributed range sort. Row set and total order are identical to
  * `orderBy` (every caller's sort key is total — oracle hash
  * comparison already requires that).
  */
object TotalSort {

  def small(df: DataFrame, cols: Column*): DataFrame =
    Checkpointing.shared(df).orderBy(cols: _*)

  def small(df: DataFrame, col1: String, colRest: String*): DataFrame =
    small(df, (col1 +: colRest).map(df.col): _*)
}
