package graft.validate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Several bounded "groups of a key" selections over one frame in ONE
  * action: every row stacks one `(set, key)` entry per set, one
  * `groupBy(set, key).count` counts them all, and a `row_number` per set
  * keeps at most that set's limit of groups on the executors. The driver
  * collects at most the sum of the limits, whatever the key cardinality.
  *
  * This is the shape of both the report's breakdowns (histograms and
  * top-k) and its vocabulary samples (first distinct values): however many
  * sets there are, the table is scanned once and the pass costs one action
  * (three jobs under AQE: the count's shuffle, the ranking's shuffle and
  * the collect).
  */
private[validate] object KeyedPass {

  /** One selection.
    *
    * @param key      the row's key (cast to string); a null key skips the
    *                 row unless `keepNull`, which counts the nulls as one group
    * @param limit    groups kept, first in rank order
    * @param byCount  rank by count descending then key ascending; otherwise
    *                 by key ascending (Spark's string order either way)
    */
  final case class KeySet(key: Column, limit: Int, byCount: Boolean, keepNull: Boolean = false)

  /** For each set, in the order given: its kept groups as (key, count) in
    * rank order. Runs no job when `sets` is empty.
    */
  def run(df: DataFrame, sets: Seq[KeySet]): IndexedSeq[IndexedSeq[(String, Long)]] = {
    if (sets.isEmpty) return IndexedSeq.empty
    def setsWhere(p: KeySet => Boolean): Column = {
      val ids = sets.indices.filter(i => p(sets(i)))
      if (ids.isEmpty) lit(false) else col("s").isin(ids: _*)
    }
    val entries = sets.zipWithIndex.map { case (ks, i) =>
      struct(lit(i).as("s"), ks.key.cast("string").as("k"))
    }
    val rank = row_number().over(Window.partitionBy(col("s")).orderBy(
      when(setsWhere(_.byCount), col("cnt")).otherwise(lit(0L)).desc, col("k").asc))
    val rows = df
      .select(explode(array(entries: _*)).as("e"))
      .select(col("e.s").as("s"), col("e.k").as("k"))
      .filter(col("k").isNotNull || setsWhere(_.keepNull))
      .groupBy(col("s"), col("k"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("s"), col("k"), col("cnt"), rank.as("rn"))
      .filter(col("rn") <= element_at(typedLit(sets.map(_.limit)), col("s") + 1))
      .collect()
    val bySet = rows.groupBy(_.getInt(0))
    sets.indices.map { i =>
      bySet.getOrElse(i, Array.empty).sortBy(_.getInt(3))
        .map(r => (if (r.isNullAt(1)) null else r.getString(1)) -> r.getLong(2))
        .toIndexedSeq
    }
  }
}
