package graft.engine

/** Missing-CDF-file error classification + per-table audit results —
  * operators O2/O3/O4 support in SURVEY.md §2.9.
  *
  * The reference classifies errors by substring
  * (`extract_missing_cdf_error_signature`,
  * `unload_databricks_data_to_s3.py:24-25, 75-88`) and records per-table
  * version outcomes in a `table_results` dict
  * (`unload_databricks_data_to_s3.py:288-295`). The two-phase retry itself
  * lives in [[Unload]]; this module holds the pure pieces so they unit-test
  * without Spark.
  */
object Recovery {

  val MissingCdfFileSignature: String = VersionedCatalog.MissingCdfFileSignature
  val SparkFileNotExistSignature: String = VersionedCatalog.SparkFileNotExistSignature

  /** OSS Spark's analogue of the reference's Databricks-only
    * `FAILED_READ_FILE.DBR_FILE_NOT_EXIST`: files vanishing between plan and
    * execution surface as `FAILED_READ_FILE.FILE_NOT_EXIST` here. Matching it
    * keeps the write-time recovery path (O4) reachable outside Databricks.
    */
  val OssFileNotExistSignature: String = "FAILED_READ_FILE.FILE_NOT_EXIST"

  /** O2: return the matched signature if the error (message, any depth of
    * cause) indicates missing CDF files; `None` ⇒ not recoverable, re-raise.
    */
  def missingCdfSignature(t: Throwable): Option[String] = {
    def messages(x: Throwable, seen: Set[Throwable]): List[String] =
      if (x == null || seen(x)) Nil
      else Option(x.getMessage).toList ::: messages(x.getCause, seen + x)
    val all = messages(t, Set.empty).mkString("\n")
    if (all.contains(MissingCdfFileSignature)) Some(MissingCdfFileSignature)
    else if (all.contains(SparkFileNotExistSignature)) Some(SparkFileNotExistSignature)
    else if (all.contains(OssFileNotExistSignature)) Some(OssFileNotExistSignature)
    else None
  }

  /** Per-table version outcome, audit-logged at job end — field names match
    * the reference's `table_results` JSON so downstream consumers are
    * unaffected.
    */
  final case class TableResult(
      table: String,
      initialStartVersion: Long,
      initialEndVersion: Long,
      initialFetchError: Option[String],
      finalStartVersion: Long,
      finalEndVersion: Long
  )

  /** `{"tables": {name: {...}}}` — same shape as
    * `json.dumps({"tables": table_results}, indent=2)`.
    */
  def tableResultsJson(results: Seq[TableResult]): String = {
    import Json.{quote => q}
    val entries = results.map { r =>
      val err = r.initialFetchError.map(q).getOrElse("null")
      s"""    ${q(r.table)}: {
         |      "initialStartVersion": ${r.initialStartVersion},
         |      "initialEndVersion": ${r.initialEndVersion},
         |      "initialFetchError": $err,
         |      "finalStartVersion": ${r.finalStartVersion},
         |      "finalEndVersion": ${r.finalEndVersion}
         |    }""".stripMargin
    }
    s"""{
       |  "tables": {
       |${entries.mkString(",\n")}
       |  }
       |}""".stripMargin
  }
}
