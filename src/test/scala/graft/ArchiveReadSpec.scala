package graft

import java.io.File
import java.nio.charset.Charset
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.scalatest.funsuite.AnyFunSuite

import graft.dwca.{CsvDialect, DwcaArchive}
import graft.validate.ArchiveValidator

/** Guards on the archive read path: a table read plans without running a
  * Spark job, in one projection whatever its width; the driver-side header
  * agrees with Spark's own header inference on every dialect the reader
  * accepts; a report cleans up its zip extraction and stays within a job
  * budget.
  */
class ArchiveReadSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private val fixtures = Seq(
    "/occurrence_archives/dwca-simple",
    "/occurrence_archives/dwca-bad-coordinates", // \r\n dialect
    "/occurrence_archives/dwca-bad-geodetic-datum",
    "/occurrence_archives/dwca-out-of-range-coordinates",
    "/occurrence_archives/dwca-unrecognised-basis-of-record",
    "/event_archives/dwca-simple") // core + extensions

  /** A one-table Occurrence archive: `declared` fields after the id column,
    * `data` as its data file, written in the declared encoding.
    */
  private def crafted(data: String, declared: Int = 2, sep: String = ",",
      lines: String = "\\n", quote: String = "", header: Int = 1,
      encoding: String = "utf-8"): File = {
    val dir = Files.createTempDirectory("crafted-archive").toFile
    val fields = (1 to declared).map(i =>
      s"""    <field index="$i" term="http://rs.tdwg.org/dwc/terms/col$i"/>""").mkString("\n")
    val q = quote.replace("\"", "&quot;")
    Files.writeString(new File(dir, "meta.xml").toPath,
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<archive xmlns="http://rs.tdwg.org/dwc/text/">
         |  <core rowType="http://rs.tdwg.org/dwc/terms/Occurrence" encoding="$encoding" fieldsTerminatedBy="$sep" linesTerminatedBy="$lines" fieldsEnclosedBy="$q" ignoreHeaderLines="$header">
         |    <files><location>occ.txt</location></files>
         |    <id index="0" />
         |$fields
         |  </core>
         |</archive>""".stripMargin)
    Files.write(new File(dir, "occ.txt").toPath, data.getBytes(Charset.forName(encoding)))
    dir
  }

  private def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Every dialect the header inference has to agree on. */
  private def craftedCases: Seq[(String, File)] = Seq(
    "more physical columns than declared" -> crafted("id,a,b,c,d\n1,x,y,z,w\n"),
    "fewer physical columns than declared" -> crafted("id,a\n1,x\n2,y\n", declared = 4),
    "quoted header with embedded separators" ->
      crafted("id,\"a,b\",\"c,d,e\"\n1,\"x,y\",z\n", quote = "\""),
    "leading blank lines" -> crafted("\n  \n\nid,a,b\n1,x,y\n"),
    "\\r\\n terminators" -> crafted("id,a,b\r\n1,x,y\r\n2,u,v\r\n", lines = "\\r\\n"),
    "single-char custom terminator" -> crafted("id,a,b;1,x,y;2,u,v;", lines = ";"),
    "tab separator, no header line" -> crafted("1\tx\ty\n2\tu\tv\n", sep = "\\t", header = 0),
    "ISO-8859-1 header" -> crafted("id,é,b\n1,x,y\n", encoding = "ISO-8859-1"),
    "empty data file" -> crafted(""),
    "blank lines only" -> crafted("\n\n"))

  /** Spark's own inferred-header read of the table, as the reader ran it
    * before it counted the columns itself.
    */
  private def sparkInferred(path: String, d: CsvDialect): DataFrame =
    spark.read.options(DwcaArchive.csvOptions(d))
      .option("header", d.ignoreHeaderLines > 0)
      .option("mode", "PERMISSIVE").option("inferSchema", "false")
      .csv(path)

  private def rows(df: DataFrame): Seq[Seq[String]] =
    df.collect().map(_.toSeq.map(v => if (v == null) null else v.toString)).toSeq
      .sortBy(_.mkString("|"))

  test("driver-side header equals Spark's inferred header on fixtures and crafted files") {
    val fixtureTables = fixtures.flatMap { fx =>
      val path = TestSpark.resourcePath(fx)
      val archive = DwcaArchive.open(spark, path)
      (archive.descriptor.core +: archive.descriptor.extensions).map(t =>
        s"$fx ${t.location}" -> (new File(path, t.location).getPath, t.dialect))
    }
    val cases = craftedCases
    val craftedTables = cases.map { case (name, dir) =>
      val t = DwcaArchive.open(spark, dir.getPath).descriptor.core
      name -> (new File(dir, t.location).getPath, t.dialect)
    }
    try (fixtureTables ++ craftedTables).foreach { case (name, (path, d)) =>
      val ours = DwcaArchive.physicalColumns(spark, path, d, d.ignoreHeaderLines > 0)
      assert(ours == sparkInferred(path, d).columns.toSeq, name)
    } finally cases.foreach(c => delete(c._2))
  }

  test("crafted dialects read the same rows as Spark's inferred-header read") {
    craftedCases.foreach { case (name, dir) =>
      try {
        val archive = DwcaArchive.open(spark, dir.getPath)
        val t = archive.descriptor.core
        val ours = archive.coreDataFrame
        val theirs = sparkInferred(new File(dir, t.location).getPath, t.dialect)
        assert(ours.columns.length == theirs.columns.length, name)
        assert(rows(ours) == rows(theirs), name)
      } finally delete(dir)
    }
  }

  test("a whitespace-only first line is skipped as the scan skips it, not read as the header") {
    // Spark's header inference keeps a line of tabs (its SQL trim strips
    // spaces only) while the scan's own header skip drops it (Java trim):
    // the inferred schema was one column named "\t\t" over three-column
    // rows. The driver-side header follows the scan.
    val dir = crafted("\t\t\nid,a,b\n1,x,y\n")
    try {
      val df = DwcaArchive.open(spark, dir.getPath).coreDataFrame
      assert(df.columns.toSeq == Seq("id", "col1", "col2"))
      assert(rows(df) == Seq(Seq("1", "x", "y")))
    } finally delete(dir)
  }

  test("a table read submits no Spark job, on every fixture table") {
    fixtures.foreach { fx =>
      val archive = DwcaArchive.open(spark, TestSpark.resourcePath(fx))
      val (_, jobs) = TestSpark.countJobs {
        (archive.descriptor.core +: archive.descriptor.extensions)
          .foreach(t => archive.read(t).columns)
      }
      assert(jobs == 0, fx)
    }
  }

  test("a table read plans one projection at 10 and at 150 columns") {
    def projects(width: Int): Int = {
      val header = (0 to width).map(i => s"c$i").mkString(",")
      val row = (0 to width).map(i => if (i % 9 == 0) "NA" else s"v$i").mkString(",")
      val dir = crafted(s"$header\n$row\n", declared = width)
      try {
        val df = DwcaArchive.open(spark, dir.getPath).coreDataFrame
        assert(df.columns.length == width + 1)
        // the NA token still nulls out through the single projection
        assert(df.collect().head.isNullAt(9))
        df.queryExecution.analyzed.collect { case p: Project => p }.size
      } finally delete(dir)
    }
    val narrow = projects(10)
    assert(narrow == projects(150))
    assert(narrow == 1)
  }

  test("validateArchive deletes its zip extraction directory") {
    val srcDir = new File(TestSpark.resourcePath("/occurrence_archives/dwca-simple"))
    val zip = File.createTempFile("dwca-leak", ".zip")
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zip))
    try srcDir.listFiles().sortBy(_.getName).foreach { f =>
      zos.putNextEntry(new java.util.zip.ZipEntry(f.getName))
      Files.copy(f.toPath, zos)
      zos.closeEntry()
    } finally zos.close()
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    def extractionDirs(): Set[String] =
      Option(tmp.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.isDirectory && f.getName.startsWith("dwca-")).map(_.getName).toSet
    try {
      // opening the zip extracts it into a directory the archive owns ...
      val before = extractionDirs()
      val archive = DwcaArchive.open(spark, zip.getPath)
      val owned = extractionDirs() -- before
      assert(owned.size == 1, owned)
      archive.close()
      assert((extractionDirs() intersect owned).isEmpty)
      // ... and a report closes its archive once it is done
      val beforeReport = extractionDirs()
      val report = ArchiveValidator.validateArchive(spark, zip.getPath, Seq("occurrenceID"))
      assert(report.core.record_count == 5)
      assert((extractionDirs() -- beforeReport).isEmpty)
    } finally zip.delete()
  }

  test("validateArchive on the event fixture stays within its job budget") {
    // Event core: the fused aggregate with its eventID distinct count (3
    // jobs: two shuffle stages and the result) and the keyed breakdown pass
    // (3). Occurrence extension: the fused aggregate without an id check
    // (2); it has no breakdown field, so no breakdown pass runs. No
    // vocabulary sample runs (every value is recognised), and reading the
    // tables runs no job.
    val Budget = 8
    val path = TestSpark.resourcePath("/event_archives/dwca-simple")
    ArchiveValidator.validateArchive(spark, path) // warm: first-use planning
    val (report, jobs) = TestSpark.countJobs(ArchiveValidator.validateArchive(spark, path))
    assert(report.core.record_count == 5)
    info(s"$jobs jobs")
    assert(jobs <= Budget, s"$jobs jobs")
  }
}
