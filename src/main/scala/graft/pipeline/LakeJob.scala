package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.storage.{CowTable, TableConfig}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.current_timestamp
import org.json4s.{Formats, NoTypeHints}
import org.json4s.jackson.Serialization

/** The per-table job loops — the engine's analog of the reference's two Glue
  * job mains iterating `target_tables_list`
  * (reference: src/hudi/hudi-initial-load.py:118-127 create loop,
  * src/hudi/hudi-cdc-load.py:227-235 CDC loop, config cdk.json:61-86).
  *
  * Layout convention mirrors the reference's raw zone
  * (`<raw>/initial-load/<db>/<table>/`, `<raw>/cdc-load/<db>/<table>/`,
  * README.md:28): initial parquet under `<rawDir>/initial-load/<table>`,
  * CDC parquet under `<rawDir>/cdc-load/<table>`, tables materialized at
  * `<lakeDir>/<table>`, bookmark state at `<lakeDir>/<table>/_bookmark.json`.
  */
object LakeJob {

  /** Idempotent initial load: create each configured table from its
    * initial-load directory if absent, skip if present (the reference's
    * catalog probe, src/hudi/hudi-initial-load.py:114). Registers each table
    * BOTH as a session temp view and in the durable lake catalog
    * (`<lakeDir>/_catalog.vNNNNN.json`, [[graft.storage.LakeRegistry]]) — the
    * persistent half is what the reference's hive-sync gives it
    * (src/hudi/hudi-initial-load.py:76-81): a FRESH session attaches with
    * `LakeRegistry.attach(spark, lakeDir)` and needs no config file.
    * Returns created table names. */
  def initialLoad(
      spark: SparkSession, rawDir: String, lakeDir: String,
      configs: Seq[TableConfig]): Seq[String] =
    configs.flatMap { cfg =>
      val t = CowTable(spark, s"$lakeDir/${cfg.tableName}", cfg)
      val created =
        if (t.currentVersion == 0) {
          t.create(spark.read.parquet(s"$rawDir/initial-load/${cfg.tableName}"))
          Some(cfg.tableName)
        } else None
      graft.storage.LakeRegistry.register(lakeDir, cfg)
      t.read().createOrReplaceTempView(cfg.tableName)
      created
    }

  /** One CDC run over every configured table: bookmark-filtered batch →
    * dedup → merge, early-exit per table on no new files ("No Data
    * changed."). Returns per-table results for tables that had data. */
  def cdcLoad(
      spark: SparkSession, rawDir: String, lakeDir: String,
      configs: Seq[TableConfig],
      auditTs: Column = current_timestamp())
      : Map[String, CdcPipeline.BatchResult] =
    configs.flatMap { cfg =>
      val t = CowTable(spark, s"$lakeDir/${cfg.tableName}", cfg)
      CdcPipeline.run(spark, t, s"$rawDir/cdc-load/${cfg.tableName}",
          s"$lakeDir/${cfg.tableName}/_bookmark.json", auditTs = auditTs)
        .map { r =>
          t.read().createOrReplaceTempView(cfg.tableName)
          cfg.tableName -> r
        }
    }.toMap
}

/** Config-file loader — the typed `ast.literal_eval` replacement. JSON shape
  * mirrors cdk.json's `target_tables_list`:
  * `[{"table_name": ..., "primary_key": ..., "partition_key": ...,
  *    "precombine_key": ...}, ...]` with "None"/null meaning absent. */
object TableConfigs {
  private implicit val formats: Formats = Serialization.formats(NoTypeHints)

  private case class Raw(
      table_name: String, primary_key: String,
      partition_key: Option[String], precombine_key: Option[String])

  private def noneIsAbsent(v: Option[String]): Option[String] =
    v.filterNot(s => s == null || s.isEmpty || s.equalsIgnoreCase("none"))

  def fromJson(json: String): Seq[TableConfig] =
    Serialization.read[Seq[Raw]](json).map(r =>
      TableConfig(r.table_name,
        r.primary_key.split(",").map(_.trim).toSeq,
        noneIsAbsent(r.partition_key),
        noneIsAbsent(r.precombine_key)))

  def load(path: String): Seq[TableConfig] =
    fromJson(Files.readString(Paths.get(path)))
}
