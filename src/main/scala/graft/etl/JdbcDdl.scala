package graft.etl

/** Driver-side DDL synthesis for the JDBC (PostgreSQL) mirror — SURVEY
  * A12/A13/A19/A23. Pure string builders: no Spark primitive is involved
  * (the reference does all of this row-interleaved over a live psycopg2
  * connection, `main_ingest.py:197-272,500-642`; here DDL is derived once
  * per batch from the aggregated schema, then applied through one JDBC
  * connection before `df.write.jdbc` appends the rows).
  *
  * All dynamic columns are TEXT by contract (§1.2: "typing is the
  * querier's job").
  */
object JdbcDdl {

  private def q(ident: String): String = "\"" + ident + "\""

  /** CREATE TABLE for a dynamic per-tag table: 5 fixed columns + one TEXT
    * column per attribute (`main_ingest.py:210-231`).
    */
  def createTagTable(schema: String, tableRaw: String, attrCols: Seq[String]): String = {
    val table = tableRaw.toLowerCase
    val valueCol = Sanitize.valueColumnName(tableRaw)
    val common = Seq(
      s"${q("element_id")} TEXT PRIMARY KEY",
      s"${q("parent_element_id")} TEXT",
      s"${q("pcr_uuid_context")} TEXT",
      s"${q("original_tag_name")} TEXT",
      s"${q(valueCol)} TEXT")
    val commonNames = TagTables.CommonColumns.toSet + valueCol
    val attrs = attrCols.map(a => Sanitize.sanitizeXmlName(a).toLowerCase)
      .distinct.filterNot(commonNames.contains)
      .map(a => s"${q(a)} TEXT")
    s"CREATE TABLE IF NOT EXISTS ${q(schema)}.${q(table)} (${(common ++ attrs).mkString(", ")});"
  }

  /** Table COMMENT carrying the XML path (`main_ingest.py:235-240`). */
  def commentOnTable(schema: String, tableRaw: String, elementPath: String): String =
    s"COMMENT ON TABLE ${q(schema)}.${q(tableRaw.toLowerCase)} IS '${elementPath.replace("'", "''")}';"

  /** FK with ON DELETE CASCADE over the tree edge (`main_ingest.py:605-617`),
    * name via the 63-byte truncation contract (FkNames).
    */
  def addForeignKey(schema: String, childRaw: String, parentRaw: String): String = {
    val name = FkNames.fkConstraintName(childRaw, parentRaw)
    s"ALTER TABLE ${q(schema)}.${q(childRaw.toLowerCase)} " +
      s"ADD CONSTRAINT ${q(name)} FOREIGN KEY (${q("parent_element_id")}) " +
      s"REFERENCES ${q(schema)}.${q(parentRaw.toLowerCase)} (${q("element_id")}) ON DELETE CASCADE;"
  }

  /** Bootstrap control tables (`database_setup.py:66-95`), dialect-typed
    * so the same contract runs on engines without SERIAL/TIMESTAMPTZ or
    * indexable wide VARCHARs (Derby in tests). Identifiers are unquoted,
    * as in the reference, so they fold per-engine and lookups that also
    * use unquoted names always resolve.
    */
  def bootstrap(schema: String, dialect: JdbcMirror.SqlDialect = JdbcMirror.PostgresDialect): Seq[String] = {
    val ifNotExists = if (dialect.supportsIfNotExists) "IF NOT EXISTS " else ""
    Seq(
      s"""CREATE TABLE $ifNotExists${q(schema)}.SchemaVersions (
         |  SchemaVersionID ${dialect.serialType} PRIMARY KEY,
         |  VersionNumber ${dialect.keyTextType} NOT NULL UNIQUE,
         |  CreationDate ${dialect.timestampType} NOT NULL,
         |  UpdateDate ${dialect.timestampType},
         |  Description ${dialect.textType},
         |  DemographicGroup ${dialect.textType}
         |);""".stripMargin,
      s"""CREATE TABLE $ifNotExists${q(schema)}.XMLFilesProcessed (
         |  ProcessedFileID ${dialect.keyTextType} PRIMARY KEY,
         |  OriginalFileName ${dialect.textType} NOT NULL,
         |  MD5Hash ${dialect.textType},
         |  ProcessingTimestamp ${dialect.timestampType} NOT NULL,
         |  Status ${dialect.textType} NOT NULL,
         |  SchemaVersionID INTEGER,
         |  DemographicGroup ${dialect.textType},
         |  FOREIGN KEY (SchemaVersionID) REFERENCES ${q(schema)}.SchemaVersions(SchemaVersionID)
         |);""".stripMargin)
  }

  /** Schema-version gate lookup (`main_ingest.py:53-64`): resolve a
    * configured VersionNumber to its SchemaVersionID; no row means the
    * pipeline must refuse to ingest (`main_ingest.py:729`). Unquoted
    * identifiers to match `bootstrap`'s folding.
    */
  def schemaVersionLookup(schema: String): String =
    s"SELECT SchemaVersionID FROM ${q(schema)}.SchemaVersions WHERE VersionNumber = ?"

  /** DELETE statements for a keyed overwrite on the mirror — the
    * reference's per-PCR pre-delete (`main_ingest.py:276-328`), chunked
    * at `chunkSize` keys per statement so a large backfill batch never
    * produces a statement the engine rejects (nor a mega string on the
    * driver). One statement per (table, chunk) instead of the reference's
    * per-(table, key) roundtrip. `keyCol` defaults to the PCR context;
    * container eviction reuses the same builder with `element_id`.
    */
  def deleteByKeys(schema: String, tableRaw: String, keys: Seq[String],
      chunkSize: Int = 1000, keyCol: String = "pcr_uuid_context"): Seq[String] =
    keys.grouped(math.max(1, chunkSize)).map { chunk =>
      val in = chunk.map(k => s"'${k.replace("'", "''")}'").mkString(", ")
      s"DELETE FROM ${q(schema)}.${q(tableRaw.toLowerCase)} WHERE ${q(keyCol)} IN ($in);"
    }.toSeq

  /** Keyed overwrite via a staging key table: the scale path when the
    * batch's key set is too large to inline (or even to collect) — keys
    * are written executor->DB with `df.write.jdbc`, then one set-oriented
    * DELETE per table.
    */
  def deleteViaStaging(schema: String, tableRaw: String, stagingTable: String): String =
    s"DELETE FROM ${q(schema)}.${q(tableRaw.toLowerCase)} WHERE ${q("pcr_uuid_context")} IN " +
      s"(SELECT ${q("k")} FROM ${q(schema)}.${q(stagingTable)});"
}
