package graft.validate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

import Lenient.qcol

/** Group-by summary statistics for the archive report (reference:
  * dwc_validator/breakdown.py).
  *
  * Scale notes: every breakdown — the year/month/day histograms, the two
  * top-20s and the three eventDate-derived histograms — comes out of ONE
  * keyed pass ([[KeyedPass]]): one scan instead of the reference's 6, and
  * one action for all of them. Each set keeps a bounded number of
  * groups on the executors (20 per top-k, `HistogramMaxGroups + 1` per
  * histogram), so nothing unbounded is ever collected to the driver;
  * histogram key cardinality is expected small (years/months/days).
  */
object Breakdowns {

  /** Defensive ceiling on driver-collected histogram groups. The intended
    * histogram keys are bounded (days ≤ 31, months ≤ 12, years ≈ decades),
    * but this API takes arbitrary DataFrames — without a cap, a
    * high-cardinality column would materialize unbounded state on the
    * driver (VERDICT r1 item: cap before the API grows).
    */
  val HistogramMaxGroups = 10000

  /** Reference: breakdown.py:9-34 (`generate_breakdowns`), including the
    * eventDate-derived histograms overwriting the plain year/month/day ones
    * (SURVEY.md T7). Keys are normalized to strings.
    */
  def generate(df: DataFrame): ListMap[String, ListMap[String, Long]] = {
    import KeyedPass.KeySet
    val has = df.columns.toSet
    val simpleFields = Seq("year", "month", "day").filter(has)
    // top-20 value breakdowns (breakdown.py:54-62); ties broken by value
    // for determinism, as in topValues
    val topFields = Seq("scientificName", "family").filter(has)
    val derivedFields = if (has("eventDate")) Seq("year", "month", "day") else Nil
    if (simpleFields.isEmpty && topFields.isEmpty && derivedFields.isEmpty) return ListMap.empty

    // the lenient timestamp parse is projected once per row, not per key
    val ts = col("__ts")
    val input = df.select((simpleFields ++ topFields).map(qcol) ++
      derivedFields.headOption.map(_ => Lenient.toTimestamp(qcol("eventDate")).as("__ts")): _*)
    // A histogram set keeps HistogramMaxGroups + 1 groups so overflow is
    // DETECTED (a bare cap would silently drop groups); its null group is
    // kept too, because it counts against the cap like any other group.
    val hist = HistogramMaxGroups + 1
    val derivedKey = Map("year" -> year(ts), "month" -> month(ts), "day" -> dayofmonth(ts))
    val groups = KeyedPass.run(input,
      simpleFields.map(f => KeySet(qcol(f), hist, byCount = true, keepNull = true)) ++
        topFields.map(f => KeySet(qcol(f), 20, byCount = true)) ++
        derivedFields.map(f => KeySet(derivedKey(f), hist, byCount = true)))
    val (simple, rest) = groups.splitAt(simpleFields.size)
    val (top, derived) = rest.splitAt(topFields.size)
    checkHistogramCap(simpleFields, simple)
    checkHistogramCap(derivedFields, derived)

    var out = ListMap.empty[String, ListMap[String, Long]]
    // pandas value_counts drops nulls and orders by count desc
    // (breakdown.py:72-74); ties broken by key for determinism.
    simpleFields.zip(simple).foreach { case (f, g) =>
      out += f -> sortByCountDesc(g.filter(_._1 != null))
    }
    topFields.zip(top).foreach { case (f, g) => out += f -> ListMap(g: _*) }
    // eventDate-derived year/month/day histograms (breakdown.py:77-102)
    // overwrite the simple ones; pandas groupby sorts by key ascending.
    derivedFields.zip(derived).foreach { case (f, g) =>
      out = overwrite(out, f, sortByKeyNumeric(g))
    }
    out
  }

  /** Reference: breakdown.py:37-51 (`field_populated_counts`) — kept for API
    * parity; Validator already fuses these counts into its single pass.
    */
  def fieldPopulatedCounts(df: DataFrame): ListMap[String, Long] = {
    val cols = df.columns.toSeq
    if (cols.isEmpty) return ListMap.empty
    // chunk like Validator.fusedAggregation: one agg of 180+ count
    // expressions blows spark.sql.codegen.maxFields and silently drops the
    // whole scan out of whole-stage codegen on real-world-wide archives
    val counts = cols.grouped(Validator.MaxAggsPerPass).flatMap { chunk =>
      val aggs = chunk.map(c => count(qcol(c)).as(s"cc__$c"))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      chunk.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }
    }.toSeq
    ListMap(counts: _*)
  }

  /** Reference: breakdown.py:54-62 (`top_values_breakdown`). Plans as
    * TakeOrderedAndProject. Ties broken by value for determinism (pandas tie
    * order is nondeterministic — SURVEY.md A13).
    */
  def topValues(df: DataFrame, field: String, limit: Int): ListMap[String, Long] = {
    val rows = df
      .filter(qcol(field).isNotNull)
      .groupBy(qcol(field).cast("string").as("k"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("k").asc)
      .limit(limit)
      .collect()
    ListMap(rows.map(r => r.getString(0) -> r.getLong(1)).toIndexedSeq: _*)
  }

  /** One family of histograms (the plain or the eventDate-derived
    * year/month/day) may hold at most HistogramMaxGroups groups in all,
    * null groups included: a truncated histogram would be silently wrong.
    */
  private def checkHistogramCap(fields: Seq[String], groups: Seq[Seq[(String, Long)]]): Unit =
    if (groups.map(_.size).sum > HistogramMaxGroups)
      throw new IllegalStateException(
        s"histogram group cardinality exceeds HistogramMaxGroups=$HistogramMaxGroups " +
          s"for fields ${fields.mkString(",")}; a truncated histogram would " +
          "be silently wrong — use topValues() for high-cardinality columns")

  private def sortByCountDesc(entries: Seq[(String, Long)]): ListMap[String, Long] =
    ListMap(entries.sortBy { case (k, cnt) => (-cnt, k) }: _*)

  /** pandas groupby sorts keys ascending; derived keys are numeric. */
  private def sortByKeyNumeric(entries: Seq[(String, Long)]): ListMap[String, Long] =
    ListMap(entries.sortBy { case (k, _) => k.toLong }: _*)

  /** dict.update semantics: existing keys keep their position, new keys
    * append (Python-dict parity for breakdown merge order — SURVEY.md T7).
    */
  private[graft] def overwrite(
      m: ListMap[String, ListMap[String, Long]],
      key: String,
      value: ListMap[String, Long]): ListMap[String, ListMap[String, Long]] =
    if (m.contains(key)) ListMap(m.toSeq.map { case (k, v) => k -> (if (k == key) value else v) }: _*)
    else m + (key -> value)
}
