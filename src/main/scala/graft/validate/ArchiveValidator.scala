package graft.validate

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.immutable.ListMap

import graft.dwca.{DwcaArchive, MetaXml, TableDescriptor}
import graft.model.{DFValidationReport, DwCAValidationReport}

/** Archive-level orchestration — the Spark-native `validate_archive`
  * (reference: dwc_validator/validate_dwca.py:15-98).
  */
object ArchiveValidator {

  /** Validate a Darwin Core Archive at `path` (directory or .zip).
    *
    * Semantics replicated from the reference (SURVEY.md O4):
    *   - dispatch on the core row type; Occurrence cores default
    *     `idFields` to ["occurrenceID"], Event cores use ["eventID"];
    *   - unsupported core types produce an UNSUPPORTED_CORE_TYPE report;
    *   - only Occurrence extensions of Event cores are validated, with
    *     `idFields` exactly as passed (empty → no id check);
    *   - extension breakdowns overwrite core breakdowns (T7);
    *   - `valid` reflects core errors only (T8).
    */
  def validateArchive(
      spark: SparkSession,
      path: String,
      idFields: Seq[String] = Nil,
      referenceCompatibleNumericWarnings: Boolean = false): DwCAValidationReport = {
    val archive = DwcaArchive.open(spark, path)
    // every action on the archive's frames runs before this returns, so
    // its zip extraction (if any) can go as soon as the report is built
    try report(archive, idFields, referenceCompatibleNumericWarnings)
    finally archive.close()
  }

  private def report(
      archive: DwcaArchive,
      idFields: Seq[String],
      referenceCompatibleNumericWarnings: Boolean): DwCAValidationReport = {
    val core = archive.descriptor.core
    val coreDf = archive.coreDataFrame
    val coreType = core.rowType
    val datasetType =
      if (coreType.nonEmpty) coreType.substring(coreType.lastIndexOf('/') + 1)
      else "unknown"

    val coreReport: DFValidationReport = coreType match {
      case MetaXml.OccurrenceRowType =>
        val idf = if (idFields.isEmpty) Seq("occurrenceID") else idFields
        Validator.validateOccurrence(coreDf, idf, getIdDwcTerm(coreDf, core),
          referenceCompatibleNumericWarnings)
      case MetaXml.EventRowType =>
        Validator.validateEvent(coreDf, referenceCompatibleNumericWarnings)
      case other =>
        DFValidationReport(
          record_type = other,
          record_count = 0,
          errors = Seq("UNSUPPORTED_CORE_TYPE"),
          warnings = Nil,
          coordinates_report = None,
          column_counts = ListMap.empty,
          record_error_count = 0,
          records_with_taxonomy_count = 0,
          records_with_temporal_count = 0,
          records_with_recorded_by_count = 0,
          // the reference never assigns vocab_reports on this branch —
          // jsonpickle emits null; None serializes to null (parity) without
          // putting a Scala null into a Seq-typed field
          vocab_reports = None)
    }

    var breakdowns = Breakdowns.generate(coreDf)

    val extensionReports =
      if (coreType == MetaXml.EventRowType)
        archive.descriptor.extensions
          .filter(_.rowType == MetaXml.OccurrenceRowType)
          .map { ext =>
            val extDf = archive.read(ext)
            val report = Validator.validateOccurrence(extDf, idFields, "",
              referenceCompatibleNumericWarnings)
            Breakdowns.generate(extDf).foreach { case (k, v) =>
              breakdowns = Breakdowns.overwrite(breakdowns, k, v)
            }
            report
          }
      else Nil

    DwCAValidationReport(
      valid = coreReport.errors.isEmpty,
      core_type = coreType,
      dataset_type = datasetType,
      core = coreReport,
      extensions = extensionReports,
      breakdowns = breakdowns)
  }

  /** Reference: validate_dwca.py:101-118 (`get_id_dwc_term`): map the
    * positional `id` column back to the DwC term declared at that index.
    */
  private[graft] def getIdDwcTerm(df: DataFrame, table: TableDescriptor): String = {
    val pos = df.columns.indexOf("id")
    if (pos < 0) ""
    else table.fields.filter(_.index.contains(pos)).map(_.localName)
      .find(_.nonEmpty).getOrElse("") // reference: first NON-empty term at the index (validate_dwca.py:113 next(filter(None, ...)))
  }
}
