package graft.storage

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s.{Formats, NoTypeHints}
import org.json4s.jackson.Serialization

/** Durable lake-level catalog: `<lakeDir>/_catalog.vNNNNN.json` maps table
  * name → (TableConfig, root dir), so a FRESH SparkSession can discover and
  * query every table of the lake with no config file — the persistence the
  * reference gets from hive-sync/Glue registration
  * (/root/reference/src/hudi/hudi-initial-load.py:76-81; crawlers
  * cdk_stacks/glue_stack.py:242-279) and that session temp views / the
  * in-memory saveAsTable catalog lack (they evaporate with the session;
  * the CowTable manifests were durable but nothing listed them).
  *
  * The catalog is pure O(tables) metadata, stored as a chain of versioned
  * files `_catalog.vNNNNN.json` committed with the SAME hard-link CAS the
  * table-data manifests use: two concurrent `register` calls (e.g. two
  * initial-load jobs for different tables) each link their merged state to
  * the next version — the loser's link fails atomically and it retries the
  * merge on the fresh state, so no registration is ever silently dropped
  * (a plain read-modify-write of one file lost one of the two). Readers take
  * the highest version.
  * Roots are stored relative to the lake dir so the whole lake is
  * relocatable.
  */
object LakeRegistry {
  private implicit val formats: Formats = Serialization.formats(NoTypeHints)

  /** One catalog row — a flattened TableConfig plus the table root
    * (relative to the lake dir unless absolute). */
  final case class Entry(
      table_name: String,
      root: String,
      primary_key: Seq[String],
      partition_key: Option[String],
      precombine_key: Option[String],
      cluster_by_key: Boolean,
      max_records_per_file: Long,
      bloom_index: Boolean = false,
      stats_columns: Seq[String] = Nil,
      change_data_feed: Boolean = false,
      check_constraints: Seq[String] = Nil,
      deletion_vectors: Boolean = false,
      partition_spec: Option[String] = None,
      ndv_sketch: Boolean = false) {
    def config: TableConfig = TableConfig(table_name, primary_key,
      // partitionSpec owns the key (TableConfig normalizes) — a registry
      // entry written by a normalized config carries both, so drop the key
      if (partition_spec.isDefined) None else partition_key,
      precombine_key, cluster_by_key, max_records_per_file,
      bloom_index, stats_columns, change_data_feed, check_constraints,
      deletion_vectors, partition_spec, ndv_sketch)
  }

  private def versionFile(lakeDir: String, v: Int): Path =
    Paths.get(lakeDir).resolve(f"_catalog.v$v%05d.json")

  /** Highest committed catalog version (0 = none; probe upward — catalogs
    * are O(registrations) small). */
  private def currentCatalogVersion(lakeDir: String): Int = {
    var v = 0
    while (Files.exists(versionFile(lakeDir, v + 1))) v += 1
    v
  }

  /** All registered tables (empty for a catalog-less lake). */
  def entries(lakeDir: String): Seq[Entry] = {
    val v = currentCatalogVersion(lakeDir)
    if (v == 0) Nil
    else
      Serialization.read[Seq[Entry]](Files.readString(versionFile(lakeDir, v)))
  }

  /** Register (or re-register: replace by name) a table. `root` defaults to
    * the table name — the `<lakeDir>/<table>` convention [[graft.pipeline.LakeJob]]
    * uses. Safe under concurrent registration: the versioned-file hard-link
    * CAS makes a lost race retry the merge against the winner's state
    * instead of silently overwriting it. Returns the registered entry count.
    */
  def register(
      lakeDir: String, config: TableConfig, root: String = ""): Int = {
    val r = if (root.isEmpty) config.tableName else root
    val e = Entry(config.tableName, r, config.primaryKey,
      config.partitionKey, config.precombineKey, config.clusterByKey,
      config.maxRecordsPerFile, config.bloomIndex, config.statsColumns,
      config.changeDataFeed, config.checkConstraints,
      config.deletionVectors, config.partitionSpec, config.ndvSketch)
    Files.createDirectories(Paths.get(lakeDir))
    var attempts = 0
    while (true) {
      attempts += 1
      val base = currentCatalogVersion(lakeDir)
      val merged =
        entries(lakeDir).filterNot(_.table_name == config.tableName) :+ e
      val tmp = Files.createTempFile(Paths.get(lakeDir), "_catalog", ".tmp")
      Files.writeString(tmp, Serialization.write(merged.sortBy(_.table_name)))
      try {
        Files.createLink(versionFile(lakeDir, base + 1), tmp)
        return merged.size
      } catch {
        case _: java.nio.file.FileAlreadyExistsException if attempts < 64 =>
          () // a concurrent register won this version: re-merge and retry
      } finally Files.deleteIfExists(tmp)
    }
    -1 // unreachable
  }

  /** Remove a table's registration (data files untouched — un-registering
    * is a catalog operation, not a data operation). Same CAS discipline as
    * [[register]]. Returns true iff the table was registered. */
  def unregister(lakeDir: String, name: String): Boolean = {
    var attempts = 0
    while (true) {
      attempts += 1
      val base = currentCatalogVersion(lakeDir)
      val cur = entries(lakeDir)
      if (!cur.exists(_.table_name == name)) return false
      val merged = cur.filterNot(_.table_name == name)
      val tmp = Files.createTempFile(Paths.get(lakeDir), "_catalog", ".tmp")
      Files.writeString(tmp, Serialization.write(merged.sortBy(_.table_name)))
      try {
        Files.createLink(versionFile(lakeDir, base + 1), tmp)
        return true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException if attempts < 64 =>
          () // lost the CAS: re-read and retry
      } finally Files.deleteIfExists(tmp)
    }
    false // unreachable
  }

  /** Rename a table's catalog entry (data files and root dir untouched —
    * the entry keeps pointing at the same root, so at 100 TB a rename moves
    * zero bytes; Iceberg/Delta RENAME is the same catalog-only operation).
    * One CAS commit swaps the entry atomically: the old name disappears and
    * the new appears in the same catalog version — no window where both or
    * neither resolve. Fails loudly if `to` is taken or `from` is absent. */
  def rename(lakeDir: String, from: String, to: String): Unit = {
    var attempts = 0
    while (true) {
      attempts += 1
      val base = currentCatalogVersion(lakeDir)
      val cur = entries(lakeDir)
      val e = cur.find(_.table_name == from).getOrElse(
        throw new IllegalArgumentException(
          s"rename: table $from is not registered in $lakeDir"))
      require(!cur.exists(_.table_name == to),
        s"rename: table $to already exists in $lakeDir")
      val merged = cur.filterNot(_.table_name == from) :+
        e.copy(table_name = to)
      val tmp = Files.createTempFile(Paths.get(lakeDir), "_catalog", ".tmp")
      Files.writeString(tmp, Serialization.write(merged.sortBy(_.table_name)))
      try {
        Files.createLink(versionFile(lakeDir, base + 1), tmp)
        return
      } catch {
        case _: java.nio.file.FileAlreadyExistsException if attempts < 64 =>
          () // lost the CAS: re-read and retry
      } finally Files.deleteIfExists(tmp)
    }
  }

  /** Open a registered table (resolving its relative root). */
  def open(spark: SparkSession, lakeDir: String, name: String): CowTable = {
    val e = entries(lakeDir).find(_.table_name == name).getOrElse(
      throw new IllegalArgumentException(
        s"table $name is not registered in $lakeDir/_catalog.vNNNNN.json"))
    CowTable(spark, resolveRoot(lakeDir, e), e.config)
  }

  /** Attach the whole lake to a session: register every cataloged table's
    * CURRENT snapshot as a temp view named after it. This is what a fresh
    * session (new JVM, new user) calls to see the lake — no config file, no
    * prior state. Returns the attached table names. */
  def attach(spark: SparkSession, lakeDir: String): Seq[String] =
    entries(lakeDir).map { e =>
      CowTable(spark, resolveRoot(lakeDir, e), e.config)
        .read().createOrReplaceTempView(e.table_name)
      e.table_name
    }

  private[graft] def resolveRoot(lakeDir: String, e: Entry): String = {
    val p = Paths.get(e.root)
    (if (p.isAbsolute) p else Paths.get(lakeDir).resolve(p)).toString
  }
}
