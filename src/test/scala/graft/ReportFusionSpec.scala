package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.validate.{Breakdowns, Lenient, Validator}
import graft.vocab.Vocabularies
import Lenient.qcol

/** The report's keyed passes against the composable formulations they
  * fused, on seeded frames: `Breakdowns.generate` (one pass for every
  * histogram and top-20) against the two grouping-sets aggregations and
  * two top-k actions it replaced, and the merged vocabulary samples
  * against one bounded distinct/sort action per field. The old
  * formulations live here only, as the specification.
  */
class ReportFusionSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  // ---- the composable formulations the keyed passes replaced ----------

  private def oldGroupingSetHistograms(
      df: DataFrame, fields: Seq[(String, Column)]): Map[String, Seq[(String, Long)]] = {
    val projected = df.select(fields.map { case (n, c) => c.as(n) }: _*)
    val grouped = projected
      .groupingSets(fields.map(f => Seq(col(f._1))), fields.map(f => col(f._1)): _*)
      .agg(count(lit(1)).as("cnt"))
      .limit(Breakdowns.HistogramMaxGroups + 1)
      .collect()
    if (grouped.length > Breakdowns.HistogramMaxGroups)
      throw new IllegalStateException(
        s"histogram group cardinality exceeds HistogramMaxGroups=${Breakdowns.HistogramMaxGroups} " +
          s"for fields ${fields.map(_._1).mkString(",")}; a truncated histogram would " +
          "be silently wrong — use topValues() for high-cardinality columns")
    fields.indices.map { idx =>
      fields(idx)._1 -> grouped.toSeq
        .filter(r => !r.isNullAt(idx) && fields.indices.forall(j => j == idx || r.isNullAt(j)))
        .map(r => r.getString(idx) -> r.getLong(fields.size))
    }.toMap
  }

  private def oldGenerate(df: DataFrame): ListMap[String, ListMap[String, Long]] = {
    val has = df.columns.toSet
    var out = ListMap.empty[String, ListMap[String, Long]]
    val simpleFields = Seq("year", "month", "day").filter(has)
    if (simpleFields.nonEmpty) {
      val hists = oldGroupingSetHistograms(df, simpleFields.map(f => f -> qcol(f).cast("string")))
      simpleFields.foreach { f =>
        out += f -> ListMap(hists(f).sortBy { case (k, cnt) => (-cnt, k) }: _*)
      }
    }
    Seq("scientificName", "family").filter(has).foreach { f =>
      out += f -> Breakdowns.topValues(df, f, 20)
    }
    if (has("eventDate")) {
      val parsed = df.select(Lenient.toTimestamp(qcol("eventDate")).as("__ts"))
        .filter(col("__ts").isNotNull)
      val hists = oldGroupingSetHistograms(parsed, Seq(
        "year" -> year(col("__ts")).cast("string"),
        "month" -> month(col("__ts")).cast("string"),
        "day" -> dayofmonth(col("__ts")).cast("string")))
      Seq("year", "month", "day").foreach { f =>
        out = Breakdowns.overwrite(out, f, ListMap(hists(f).sortBy(_._1.toLong): _*))
      }
    }
    out
  }

  /** One action per field: the 11 first distinct unrecognised values. */
  private def oldVocabSample(df: DataFrame, field: String, vocabLower: Seq[String]): Seq[String] = {
    val c = qcol(field).cast("string")
    df.filter(qcol(field).isNotNull && !lower(c).isin(vocabLower: _*))
      .select(c.as("v")).distinct().orderBy("v").limit(11)
      .collect().map(_.getString(0)).toSeq
  }

  // ---- seeded frames ---------------------------------------------------

  private val naTokens = Seq("NA", "NULL", "nan", "N/A", "None")
  private def pick(values: Seq[String], nullOrNa: Int = 2): Gen[String] =
    Gen.frequency(4 -> Gen.oneOf(values), 1 -> Gen.const(null: String),
      nullOrNa -> Gen.oneOf(naTokens))

  private val fields: Seq[(String, Gen[String])] = Seq(
    "year" -> pick(Seq("2019", "2020", "2021", "1999", "abc")),
    "month" -> pick((1 to 12).map(_.toString)),
    "day" -> pick((1 to 31).map(_.toString)),
    // few names, so counts tie and the top-20's tie order matters
    "scientificName" -> pick((1 to 30).map(i => s"Sp ${i % 25}")),
    "family" -> pick(Seq("Aa", "Bb", "Cc", "aa", "Éé")),
    "eventDate" -> pick(Seq("2020-01-05", "2020/02/29", "03/04/2019", "20210711",
      "2020-13-40", "not a date", "1999-12-31 23:59:59")),
    "basisOfRecord" -> pick(Seq("HumanObservation", "humanobservation", "GIBBERISH",
      "nonsense", "PreservedSpecimen", "nan", "Zzz", "b1", "b2", "b3", "b4", "b5", "b6",
      "b7", "b8", "b9", "b10")),
    "geodeticDatum" -> pick(Seq("WGS84", "EPSG:4326", "GIRAFFE", "wgs84", "x1", "x2")))

  /** A frame of `n` rows over a seeded subset of the report's fields. */
  private def frame(seed: Long, n: Int, intYear: Boolean = false): DataFrame = {
    val params = Gen.Parameters.default
    val chosen = fields.filter { case (f, _) =>
      Gen.prob(0.8).apply(params, Seed(seed ^ f.hashCode)).get }
    val rows = (0 until n).map { r =>
      Row(chosen.zipWithIndex.map { case ((f, g), i) =>
        val v = g.apply(params, Seed(seed * 7919 + r * 31 + i)).get
        if (intYear && f == "year") Try(v.toInt).toOption.map(Int.box).orNull else v
      }: _*)
    }
    val schema = StructType(chosen.map { case (f, _) =>
      val t: DataType = if (intYear && f == "year") IntegerType else StringType
      StructField(f, t, nullable = true)
    })
    spark.createDataFrame(rows.asJava, schema)
  }

  private def outcome[T](f: => T): Either[String, T] =
    Try(f).toEither.left.map(e => s"${e.getClass.getName}: ${e.getMessage}")

  // ---- equivalence -----------------------------------------------------

  test("fused breakdowns equal the grouping-sets + topValues formulation on seeded frames") {
    (1L to 12L).foreach { seed =>
      Seq(0, 1, 37, 120).foreach { n =>
        Seq(false, true).foreach { intYear =>
          val df = frame(seed, n, intYear)
          assert(Breakdowns.generate(df) == oldGenerate(df),
            s"seed=$seed n=$n intYear=$intYear cols=${df.columns.mkString(",")}")
        }
      }
    }
    // key order, not just map equality: ListMap == ignores order
    val df = frame(3L, 120)
    assert(Breakdowns.generate(df).toSeq.map { case (k, v) => k -> v.toSeq } ==
      oldGenerate(df).toSeq.map { case (k, v) => k -> v.toSeq })
  }

  test("fused breakdowns agree with the old formulation at both sides of HistogramMaxGroups") {
    val cap = Breakdowns.HistogramMaxGroups
    def years(n: Int) = spark.range(n).select(col("id").cast("string").as("year"))
    // an eventDate histogram family: distinct years plus one month and one day
    def dates(nYears: Int, extraMonth: Boolean) = {
      val ds = spark.range(1, nYears + 1).select(format_string("%04d-01-01", col("id")).as("eventDate"))
      if (!extraMonth) ds else ds.union(spark.range(1).select(lit("2000-02-01").as("eventDate")))
    }
    val cases: Seq[(String, DataFrame, Boolean)] = Seq(
      ("one field at the cap", years(cap), false),
      ("one field past the cap", years(cap + 1), true),
      ("two fields at the cap together", spark.range(cap - 12).select(
        col("id").cast("string").as("year"), (col("id") % 12).cast("string").as("month")), false),
      ("two fields past the cap together", spark.range(cap - 11).select(
        col("id").cast("string").as("year"), (col("id") % 12).cast("string").as("month")), true),
      ("a null group tips the family past the cap", spark.range(cap + 1).select(
        when(col("id") === 0, lit(null)).otherwise(col("id").cast("string")).as("year")), true),
      ("derived family at the cap", dates(cap - 2, extraMonth = false), false),
      ("derived family past the cap", dates(cap - 2, extraMonth = true), true))
    cases.foreach { case (name, df, overflows) =>
      val (ours, theirs) = (outcome(Breakdowns.generate(df)), outcome(oldGenerate(df)))
      assert(ours == theirs, name)
      assert(ours.isLeft == overflows, name)
    }
  }

  test("one vocabulary sample pass equals one bounded action per field") {
    val vocabs = Seq(
      "basisOfRecord" -> Vocabularies.basisOfRecordLower,
      "geodeticDatum" -> Vocabularies.geodeticDatumLower)
    (1L to 12L).foreach { seed =>
      Seq(0, 5, 80).foreach { n =>
        val df = frame(seed, n)
        val present = vocabs.filter { case (f, _) => df.columns.contains(f) }
        val merged = Validator.vocabSamples(df, present)
        present.foreach { case (f, v) =>
          assert(merged(f) == oldVocabSample(df, f, v), s"seed=$seed n=$n $f")
        }
        // and through the report: the sample appears exactly when needed
        val report = Validator.validateOccurrence(df)
        report.vocabReports.filter(_.has_field).foreach { r =>
          val nulls = report.record_count - report.column_counts(r.field)
          val reals = oldVocabSample(df, r.field, vocabs.toMap.apply(r.field))
          val want = if (r.unrecognised_count == 0) Nil else {
            val withNan = if (nulls > 0) (reals :+ "nan").distinct.sorted else reals
            withNan.take(10).filterNot(_ == "nan")
          }
          assert(r.non_matching_values == want, s"seed=$seed n=$n ${r.field}")
        }
      }
    }
  }
}
