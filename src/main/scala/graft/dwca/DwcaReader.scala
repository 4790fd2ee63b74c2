package graft.dwca

import java.io.File
import java.nio.file.{Files, Path}
import java.util.zip.ZipFile

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Reads a Darwin Core Archive (directory or .zip of delimited text files +
  * `meta.xml`) into Spark DataFrames — the Spark-native equivalent of the
  * reference's `DwCAReader`/`pd_read` usage (dwc_validator/validate_dwca.py:27-28,
  * :81-82).
  *
  * Design notes for scale: the archive text files are read by Spark's
  * distributed CSV source (splittable for uncompressed files), *not*
  * materialized on the driver. All columns are read as strings
  * (`inferSchema=false`), matching the reference's `parse_dates=False`
  * lenient-typing model; typed interpretation happens per-check via
  * `try_cast` (SURVEY.md §1.2). Zip archives are extracted to a temp dir on
  * the driver first — Spark cannot read inside zips; for 100 TB-scale
  * archives the expectation is extracted files on distributed storage.
  */
final class DwcaArchive private (
    val spark: SparkSession,
    val descriptor: ArchiveDescriptor,
    rootDir: File,
    ownsRootDir: Boolean) extends AutoCloseable {

  def coreDataFrame: DataFrame = read(descriptor.core)

  def extensionDataFrames: Seq[(TableDescriptor, DataFrame)] =
    descriptor.extensions.map(e => e -> read(e))

  /** Core ⋈ extension left join on the DwCA star-schema link: core `id` =
    * extension `coreid` (reference meta.xml declares the key —
    * test/event_archives/dwca-simple/meta.xml:17,25 — but the reference
    * never joins; SURVEY.md §2.5 names this the natural extension).
    * Extension columns are prefixed `<extRowTypeLocalName>_` to avoid
    * collisions with core column names. At scale this is a plain shuffled
    * equi-join on the id key (or broadcast when the extension is small) —
    * exactly what Catalyst picks for `core.join(ext, "left")`.
    */
  def joined(ext: TableDescriptor): DataFrame =
    DwcaArchive.starJoin(coreDataFrame, read(ext), ext.rowTypeLocalName)

  /** Deletes the directory a zip archive was extracted to (a directory
    * archive is left as it is). Frames read from the archive cannot run
    * after this: close only once every action on them has finished.
    */
  override def close(): Unit = if (ownsRootDir) DwcaArchive.deleteTree(rootDir)

  /** Read one table of the archive per its declared dialect, naming columns
    * positionally after the DwC term local names (id/coreid per SURVEY.md T4).
    *
    * Submits no Spark job: the physical column count comes from the first
    * non-empty line, read on the driver with Spark's own line reader and
    * tokenised with Spark's own univocity settings for the dialect, so it is
    * the width Spark's header inference would find (see
    * [[DwcaArchive.physicalColumns]]). Renaming, NA-token normalisation and
    * default-only constants are ONE projection: a `withColumn` per column
    * re-analyses a growing plan (O(n²) on a 100-column table) and leaves
    * every later action a Project stack as deep as the table is wide.
    */
  def read(table: TableDescriptor): DataFrame = {
    val d = table.dialect
    val path = new File(rootDir, table.location).getAbsolutePath
    val reader = spark.read
      .options(DwcaArchive.csvOptions(d))
      .option("mode", "PERMISSIVE")
      .option("inferSchema", "false")
    // ignoreHeaderLines: the header option skips exactly ONE line; the
    // reference (pandas skiprows=N) skips N. For N > 1 pre-skip the extra
    // lines on the ordered single-file read, then parse the remainder.
    val raw =
      if (d.ignoreHeaderLines <= 1) {
        val header = d.ignoreHeaderLines > 0
        val names = DwcaArchive.physicalColumns(spark, path, d, header)
        reader.option("header", header)
          .schema(StructType(names.map(StructField(_, StringType, nullable = true))))
          .csv(path)
      } else {
        // The pre-skip reads lines with spark.read.textFile, which always
        // splits on \n/\r\n and decodes UTF-8 — a custom single-char
        // terminator or non-UTF-8 encoding would be silently ignored here
        // (mis-splitting every row) even though the CSV parse honors them.
        // Same policy as the multi-char terminator case: fail LOUDLY on the
        // combination instead of corrupting downstream counts.
        d.linesTerminatedBy match {
          case "" | "\n" | "\r\n" | "\r" => ()
          case sep => throw new IllegalArgumentException(
            s"ignoreHeaderLines=${d.ignoreHeaderLines} > 1 cannot be combined with custom " +
              s"linesTerminatedBy ${sep.map(c => f"\\u${c.toInt}%04x").mkString}: the line " +
              "pre-skip splits on newlines only")
        }
        if (!Set("utf-8", "utf8", "us-ascii", "ascii")
            .contains(d.encoding.toLowerCase(java.util.Locale.ROOT)))
          throw new IllegalArgumentException(
            s"ignoreHeaderLines=${d.ignoreHeaderLines} > 1 cannot be combined with encoding " +
              s"${d.encoding}: the line pre-skip decodes UTF-8 only")
        import spark.implicits._
        val lines = spark.read.textFile(path).rdd
          .zipWithIndex()
          .filter(_._2 >= d.ignoreHeaderLines - 1) // header option eats one more
          .map(_._1)
        reader.option("header", true).csv(spark.createDataset(lines))
      }
    val names = table.columnNames
    // Tolerate files with fewer/more physical columns than declared.
    // pandas' default NA tokens (keep_default_na=True in the reference's
    // pd_read) all parse to NaN, not just the empty string Spark's
    // nullValue covers — normalize them to null so presence counts, id
    // checks, and vocab nulls match the reference on archives containing
    // literal "NA"/"NULL"/"NaN"/… values.
    val positional = raw.columns.toSeq.zipWithIndex.map { case (c, i) =>
      val v = col("`" + c.replace("`", "``") + "`")
      val name = if (i < names.length) names(i) else s"_c$i"
      name -> when(v.isin(DwcaArchive.PandasNaTokens: _*), lit(null)).otherwise(v).as(name)
    }
    // meta.xml <field term=… default=…/> with no index → constant column.
    val defaults = table.defaultOnlyFields.foldLeft(Vector.empty[(String, Column)]) { (acc, f) =>
      if (positional.exists(_._1 == f.localName) || acc.exists(_._1 == f.localName)) acc
      else acc :+ (f.localName -> lit(f.default.orNull).as(f.localName))
    }
    raw.select((positional ++ defaults).map(_._2): _*)
  }
}

object DwcaArchive {

  /** The DwCA star join on core `id` = extension `coreid`, extension
    * columns prefixed `<extRowTypeLocalName>_` — ONE definition shared by
    * [[DwcaArchive.joined]] (classic reader frames) and the DSv2-provider
    * path (`q_s2` builds the same join over `format("dwca")` frames), so
    * the two ingestion shapes can never drift. At scale this is a plain
    * shuffled equi-join on the id key (or broadcast when the extension is
    * small) — exactly what Catalyst picks.
    */
  def starJoin(core: DataFrame, extDf: DataFrame, extRowTypeLocalName: String): DataFrame = {
    val prefix = extRowTypeLocalName.toLowerCase
    // one positional projection, not a withColumnRenamed per column
    val renamed = extDf.toDF(extDf.columns.toSeq.map(c =>
      if (c == "coreid") c else s"${prefix}_$c"): _*)
    core.join(renamed, core("id") === renamed("coreid"), "left")
  }

  /** pandas' default NA token set (`pandas.io.parsers`, keep_default_na) —
    * the reference's `pd_read` treats every one of these as NaN; the
    * reader normalizes them to null for count/id/vocab parity.
    */
  val PandasNaTokens: Seq[String] = Seq(
    "#N/A", "#N/A N/A", "#NA", "-1.#IND", "-1.#QNAN", "-NaN", "-nan",
    "1.#IND", "1.#QNAN", "<NA>", "N/A", "NA", "NULL", "NaN", "None",
    "n/a", "nan", "null")

  /** Open an archive at `path` (directory, or .zip extracted to a temp dir
    * that the returned archive owns: [[DwcaArchive.close]] deletes it).
    */
  def open(spark: SparkSession, path: String): DwcaArchive = {
    val f = new File(path)
    val (dir, owned) =
      if (f.isDirectory) (f, false)
      else if (f.isFile) (extractZip(f), true)
      else throw new IllegalArgumentException(s"archive not found: $path")
    try {
      val meta = new File(dir, "meta.xml")
      if (!meta.isFile)
        throw new IllegalArgumentException(s"no meta.xml in archive: $path")
      new DwcaArchive(spark, MetaXml.parse(meta), dir, owned)
    } catch {
      case e: Throwable =>
        if (owned) deleteTree(dir)
        throw e
    }
  }

  /** The Spark CSV options a table's dialect maps to. Empty fields read as
    * null (pandas reads them as NaN); an empty quote string disables quote
    * handling (the DwCA default, fieldsEnclosedBy="").
    *
    * lineSep handling: unset, Spark's CSV parser covers \n, \r\n and \r
    * uniformly (both fixture dialects). A declared single-char custom
    * terminator is honored; anything else must fail LOUDLY — silently
    * newline-splitting a differently-terminated file would corrupt every
    * downstream count.
    */
  private[graft] def csvOptions(d: CsvDialect): Map[String, String] = {
    val base = Map(
      "sep" -> d.fieldsTerminatedBy,
      "encoding" -> d.encoding,
      "nullValue" -> "",
      "quote" -> d.fieldsEnclosedBy)
    d.linesTerminatedBy match {
      case "" | "\n" | "\r\n" | "\r" => base
      case sep if sep.length == 1 => base + ("lineSep" -> sep)
      case sep => throw new IllegalArgumentException(
        s"unsupported linesTerminatedBy ${sep.map(c => f"\\u${c.toInt}%04x").mkString}: " +
          "Spark's CSV source supports \\n/\\r\\n/\\r or a single custom character")
    }
  }

  /** The column names Spark's CSV header inference gives the data file at
    * `path`, computed on the driver without a job: the first line that is
    * not blank, read with Spark's own line reader (declared encoding and
    * terminator, compression by file extension), tokenised with the univocity
    * settings Spark derives from the dialect, named like Spark names an
    * inferred header (`_cN` without one). An empty file has no columns, as
    * in Spark's inference; a missing one is left to the read to report.
    *
    * "Blank" is judged as the scan's own header skip judges it (nothing left
    * after trimming whitespace and control characters). Spark's inference
    * trims spaces only, so it took a first line of tabs for the header that
    * its scan then skipped; here the header is the line the scan skips to.
    */
  private[graft] def physicalColumns(
      spark: SparkSession, path: String, d: CsvDialect, header: Boolean): Seq[String] = {
    val opts = new CSVOptions(csvOptions(d) + ("header" -> header.toString),
      true, spark.conf.get("spark.sql.session.timeZone"))
    val firstRow =
      if (!new File(path).isFile) None
      else CSVUtils.readHeaderLine(new HadoopPath(path), opts, spark.sparkContext.hadoopConfiguration)
        .flatMap(line => Option(new CsvParser(opts.asParserSettings).parseLine(line)))
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    firstRow.map(r => CSVUtils.makeSafeHeader(r, caseSensitive, opts).toSeq).getOrElse(Nil)
  }

  private[dwca] def deleteTree(dir: File): Unit =
    if (dir.exists())
      Files.walk(dir.toPath)
        .sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))

  /** Ceiling on driver-side extraction (bytes). Zip archives are unpacked
    * on the driver — the one deliberately non-distributed step (matches
    * the reference, which also reads the archive in-process). The cap
    * turns a would-be disk-filling extraction into a clear error; for an
    * archive beyond it, pre-extract to a directory (or distributed store)
    * and pass the directory path — every read after `open` is a normal
    * distributed Spark scan either way.
    */
  val MaxExtractBytes: Long = 8L << 30

  private[graft] def extractZip(zip: File, maxBytes: Long = MaxExtractBytes): File = {
    // no deleteOnExit: it is a no-op on a non-empty directory, and every
    // call would grow the JVM's exit-hook list; the owner deletes the tree
    val tmp = Files.createTempDirectory("dwca-").toFile
    val zf = new ZipFile(zip)
    var extracted = 0L
    var ok = false
    try {
      zf.entries().asScala.foreach { e =>
        val target: Path = tmp.toPath.resolve(e.getName).normalize()
        if (!target.startsWith(tmp.toPath))
          throw new IllegalArgumentException(s"zip entry escapes archive dir: ${e.getName}")
        if (e.isDirectory) Files.createDirectories(target)
        else {
          Files.createDirectories(target.getParent)
          // Enforce the cap DURING the copy, not after: a single deflate-
          // bombed entry must die at the limit, never after it has already
          // filled the driver's disk.
          val in = zf.getInputStream(e)
          val out = Files.newOutputStream(target)
          try {
            val buf = new Array[Byte](64 * 1024)
            var n = in.read(buf)
            while (n >= 0) {
              extracted += n
              if (extracted > maxBytes)
                throw new IllegalArgumentException(
                  s"archive expands past $maxBytes bytes on the driver " +
                    s"(entry ${e.getName}); pre-extract it to a directory and " +
                    "pass the directory path")
              out.write(buf, 0, n)
              n = in.read(buf)
            }
          } finally { in.close(); out.close() }
        }
      }
      ok = true
    } finally {
      zf.close()
      // a failed extraction (cap breach, bad entry) must not leave partial
      // gigabytes behind
      if (!ok) deleteTree(tmp)
    }
    tmp
  }
}
