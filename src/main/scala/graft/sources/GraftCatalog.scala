package graft.sources

import java.nio.file.{Files, Path, Paths}

import graft.storage.{CowTable, LakeRegistry, TableConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{
  NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{
  Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog,
  TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType, LongType, ShortType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A Spark CATALOG PLUGIN over a graft lake — the SQL-native front door the
  * reference gets from Glue registration + engine catalogs
  * (/root/reference/cdk_stacks/glue_stack.py:242-279):
  *
  * {{{
  *   spark.sql.catalog.lake           = graft.sources.GraftCatalog
  *   spark.sql.catalog.lake.warehouse = /path/to/lake
  *
  *   CREATE TABLE lake.default.users (id BIGINT, name STRING)
  *     OPTIONS (primaryKey 'id')
  *   INSERT INTO lake.default.users ...
  *   SELECT * FROM lake.default.users VERSION AS OF 3        -- time travel
  *   SELECT * FROM lake.default.users TIMESTAMP AS OF '...'  -- time travel
  *   SHOW TABLES IN lake.default
  *   MERGE INTO lake.default.users t USING s ON ...
  * }}}
  *
  * Identity comes from [[LakeRegistry]]'s CAS-committed `_catalog.vN.json`
  * chain, so the catalog is durable across sessions and safe under
  * concurrent DDL; the returned tables are ordinary [[GraftTable]]s, so
  * every connector capability (columnar scan, runtime pruning, row-level
  * SQL, streaming read/write) works through three-part names unchanged.
  * `VERSION AS OF` / `TIMESTAMP AS OF` resolve through the standard DSv2
  * time-travel hooks (`loadTable(ident, version|timestamp)`) — previously
  * only reachable via read options.
  *
  * One flat namespace (`default`): the reference's lake is one database
  * (glue_stack.py creates a single Glue DB); nesting adds nothing here.
  * DROP TABLE un-registers without deleting data (un-registering is a
  * catalog operation; `CowTable.vacuum`/delete handle data lifecycle).
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.ViewCatalog {

  private var catName: String = _
  private var warehouse: String = _

  override def initialize(
      name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catName
  override def defaultNamespace(): Array[String] = Array("default")

  private def isDefaultNs(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (namespace.length == 1 && namespace(0).equalsIgnoreCase("default"))

  private def requireNs(namespace: Array[String]): Unit =
    if (!isDefaultNs(namespace))
      throw new NoSuchNamespaceException(namespace)

  private def entryFor(ident: Identifier): Option[LakeRegistry.Entry] = {
    requireNs(ident.namespace())
    LakeRegistry.entries(warehouse).find(_.table_name == ident.name())
  }

  private def rootOf(e: LakeRegistry.Entry): Path = {
    val p = Paths.get(e.root)
    if (p.isAbsolute) p else Paths.get(warehouse).resolve(p)
  }

  /** Root dir of a registered table — the `table_changes` TVF's resolver
    * (see [[graft.GraftExtensions]]). */
  private[graft] def tableRoot(name: String): Option[String] =
    entryFor(Identifier.of(Array("default"), name))
      .map(e => rootOf(e).toString)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireNs(namespace)
    LakeRegistry.entries(warehouse)
      .map(e => Identifier.of(Array("default"), e.table_name)).toArray
  }

  /** Column DEFAULT values are a declared capability: Spark's analyzer
    * then resolves `DEFAULT` in INSERTs and ALTER/CREATE column defaults
    * against the schema's CURRENT_DEFAULT metadata. */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def loadTable(ident: Identifier): Table = {
    val nm = ident.name()
    val dollar = nm.lastIndexOf('$')
    if (dollar > 0) {
      val base = Identifier.of(ident.namespace(), nm.substring(0, dollar))
      val e = entryFor(base).getOrElse(throw new NoSuchTableException(ident))
      return GraftMetadataTables.table(
        warehouse, e, rootOf(e), nm.substring(dollar + 1))
        .getOrElse(throw new NoSuchTableException(ident))
    }
    val e = entryFor(ident).getOrElse(throw new NoSuchTableException(ident))
    val root = rootOf(e)
    new GraftTable(root, CowTable.currentVersionAt(root), None,
      CaseInsensitiveStringMap.empty(), e.partition_key)
  }

  /** SQL `VERSION AS OF v`. The handle carries a `versionAsOf` prop so any
    * write through it is rejected loudly (same rule as the options path). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val e = entryFor(ident).getOrElse(throw new NoSuchTableException(ident))
    val root = rootOf(e)
    val v = scala.util.Try(version.trim.toInt).getOrElse(
      // not an integer: resolve as a TAG ref (VERSION AS OF 'release1')
      CowTable.tagsAt(root).getOrElse(version.trim,
        throw new IllegalArgumentException(
          s"graft: VERSION AS OF wants a commit version or tag name, got " +
            s"'$version' (tags: ${CowTable.tagsAt(root).keys.toSeq.sorted
              .mkString(", ")}; use TIMESTAMP AS OF for time travel)")))
    val cur = CowTable.currentVersionAt(root)
    require(v >= 1 && v <= cur,
      s"graft: version $v out of range 1..$cur for ${ident.name()}")
    new GraftTable(root, v, None,
      new CaseInsensitiveStringMap(
        java.util.Map.of("versionAsOf", v.toString)),
      e.partition_key)
  }

  /** SQL `TIMESTAMP AS OF ts` (micros since epoch from Spark), resolved
    * once here from manifest headers; the handle is then a plain
    * `versionAsOf` read (writes through it are rejected the same way). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val e = entryFor(ident).getOrElse(throw new NoSuchTableException(ident))
    val root = rootOf(e)
    val v = CowTable.versionAsOfAt(root, Math.floorDiv(timestampMicros, 1000L))
    new GraftTable(root, v, None,
      new CaseInsensitiveStringMap(
        java.util.Map.of("versionAsOf", v.toString)),
      e.partition_key)
  }

  override def tableExists(ident: Identifier): Boolean =
    isDefaultNs(ident.namespace()) && entryFor(ident).isDefined

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    requireNs(ident.namespace())
    if (entryFor(ident).isDefined)
      throw new TableAlreadyExistsException(ident)
    require(!Files.exists(viewFile(ident.name())),
      s"graft: a VIEW named ${ident.name()} already exists in the lake")
    // identity → hive partitionKey; days/months/bucket/truncate → a
    // PARTITION TRANSFORM spec (hidden partitioning: the table partitions
    // on a generated column, scans prune from source-column predicates)
    val keysAndSpecs: Seq[Either[String, String]] = partitions.toSeq.map {
      case t if t.name() == "identity" && t.references().length == 1 =>
        Left(t.references()(0).fieldNames().mkString("."))
      case t if (t.name() == "days" || t.name() == "day") &&
        t.references().length == 1 =>
        Right(s"day(${t.references()(0).fieldNames().mkString(".")})")
      case t if (t.name() == "months" || t.name() == "month") &&
        t.references().length == 1 =>
        Right(s"month(${t.references()(0).fieldNames().mkString(".")})")
      case t if (t.name() == "hours" || t.name() == "hour") &&
        t.references().length == 1 =>
        Right(s"hour(${t.references()(0).fieldNames().mkString(".")})")
      case t if (t.name() == "years" || t.name() == "year") &&
        t.references().length == 1 =>
        Right(s"year(${t.references()(0).fieldNames().mkString(".")})")
      case t if (t.name() == "bucket" || t.name() == "truncate") &&
        t.references().length == 1 =>
        // one field reference + one int literal, argument order free
        val kind = if (t.name() == "bucket") "bucket" else "truncate"
        val src = t.references()(0).fieldNames().mkString(".")
        val param = t.arguments().toSeq.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.value() != null && (l.dataType() match {
              case org.apache.spark.sql.types.IntegerType |
                   org.apache.spark.sql.types.LongType |
                   org.apache.spark.sql.types.ShortType |
                   org.apache.spark.sql.types.ByteType => true
              case _ => false
            }) =>
            l.value().toString.toInt
        }.getOrElse(throw new UnsupportedOperationException(
          s"graft: $kind transform needs an integer parameter, got $t"))
        Right(s"$kind($param,$src)")
      case other => throw new UnsupportedOperationException(
        s"graft: unsupported partitioning $other — use identity, days, " +
          "months, hours, years, bucket(N, c), or truncate(W, c)")
    }
    val (partitionKey, partitionSpec) = keysAndSpecs match {
      case Seq() => (None, None)
      case Seq(Left(k)) => (Some(k), None)
      case Seq(Right(sp)) => (None, Some(sp))
      case many => throw new UnsupportedOperationException(
        s"graft: one partition column max, got ${many.mkString(", ")}")
    }
    val primaryKey = Option(properties.get("primaryKey"))
      .orElse(Option(properties.get(TableCatalog.OPTION_PREFIX + "primaryKey")))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(schema.fields.headOption.map(_.name).toSeq)
    val bloom = Seq(Option(properties.get("bloomIndex")),
      Option(properties.get(TableCatalog.OPTION_PREFIX + "bloomIndex")))
      .flatten.headOption.exists(_.trim.toBoolean)
    val statsCols = Seq(Option(properties.get("statsColumns")),
      Option(properties.get(TableCatalog.OPTION_PREFIX + "statsColumns")))
      .flatten.headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val cdf = Seq(Option(properties.get("changeDataFeed")),
      Option(properties.get(TableCatalog.OPTION_PREFIX + "changeDataFeed")))
      .flatten.headOption.exists(_.trim.toBoolean)
    val dv = Seq(Option(properties.get("deletionVectors")),
      Option(properties.get(TableCatalog.OPTION_PREFIX + "deletionVectors")))
      .flatten.headOption.exists(_.trim.toBoolean)
    // ';'-separated (constraints themselves may contain commas)
    val constraints = Seq(Option(properties.get("checkConstraints")),
      Option(properties.get(TableCatalog.OPTION_PREFIX + "checkConstraints")))
      .flatten.headOption
      .map(parseConstraints)
      .getOrElse(Nil)
    val ndvOpt = Seq(Option(properties.get("ndvSketch")),
      Option(properties.get(TableCatalog.OPTION_PREFIX + "ndvSketch")))
      .flatten.headOption.exists(_.trim.toBoolean)
    val cfg = TableConfig(ident.name(), primaryKey, partitionKey,
      bloomIndex = bloom, statsColumns = statsCols, changeDataFeed = cdf,
      checkConstraints = constraints, deletionVectors = dv,
      partitionSpec = partitionSpec, ndvSketch = ndvOpt)
    val root = Option(properties.get(TableCatalog.PROP_LOCATION))
      .map(Paths.get(_)).getOrElse(rootOf(
        LakeRegistry.Entry(ident.name(), ident.name(), primaryKey,
          partitionKey, None, cluster_by_key = false, 0L)))
    Files.createDirectories(root)
    // persist the declared schema as an EMPTY v1 commit, so a fresh session
    // (or this one) resolves columns from the manifest like any other table
    val t = CowTable(SparkSession.active, root.toString, cfg)
    if (t.currentVersion == 0)
      t.commitAt(parent = 0, fresh = Nil, carryOver = Nil, schema = schema)
    LakeRegistry.register(warehouse, cfg, root.toString)
    loadTable(ident)
  }

  /** `ALTER TABLE ... ADD/RENAME/DROP COLUMN(S)` and `SET/UNSET
    * TBLPROPERTIES`: each a METADATA-ONLY commit — same files,
    * `dataChange=false` (the change feed and streaming source skip it).
    * ADD widens the schema; files predating the column null-fill it at
    * read, the behavior both connector readers already implement for
    * merge-evolved schemas. RENAME and DROP go through the column-mapping
    * API ([[graft.storage.CowTable.renameColumn]]/[[
    * graft.storage.CowTable.dropColumn]]) — physical file names never
    * change, so zero data is rewritten. Retype and reposition are rejected
    * loudly: those genuinely require rewriting physical files. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val e = entryFor(ident).getOrElse(throw new NoSuchTableException(ident))
    val t = CowTable(SparkSession.active, rootOf(e).toString, e.config)
    val cur = t.currentVersion
    require(cur > 0, s"graft: ${ident.name()} has no commits")
    val m = t.manifest(cur)
    // the manifest's stored properties are the durable truth (the registry
    // entry may lag a property commit made by another session)
    var cfg = CowTable.configAt(t.root, e.config)
    var schema = CowTable.structFromJson(m.schemaJson)
    // physical names of columns FLOAT→DOUBLE-widened by this ALTER: their
    // per-file stat strings re-derive into double space before the commit
    val floatWidened = scala.collection.mutable.Set.empty[String]
    // RENAME/DROP COLUMN: metadata-only commits through the column-mapping
    // API (physical file names never change — zero data rewritten; the
    // mapping entry or schema removal is the whole commit). Each applies
    // its own manifest version; mixing with other ALTER changes in one
    // statement is rejected (Spark sends one change per statement anyway).
    val renames = changes.collect { case c: TableChange.RenameColumn => c }
    val drops = changes.collect { case c: TableChange.DeleteColumn => c }
    if (renames.nonEmpty || drops.nonEmpty) {
      require(renames.size + drops.size == changes.size,
        "graft: RENAME/DROP COLUMN cannot be combined with other ALTER " +
          "TABLE changes in one statement")
      renames.foreach { rn =>
        require(rn.fieldNames().length == 1,
          s"graft: nested RENAME COLUMN is not supported " +
            s"(${rn.fieldNames().mkString(".")})")
        t.renameColumn(rn.fieldNames()(0), rn.newName())
      }
      drops.foreach { d =>
        require(d.fieldNames().length == 1,
          s"graft: nested DROP COLUMN is not supported " +
            s"(${d.fieldNames().mkString(".")})")
        t.dropColumn(d.fieldNames()(0))
      }
      // a renamed/dropped statsColumn changes the durable config — refresh
      // the registry entry from the new manifest
      LakeRegistry.register(warehouse,
        CowTable.configAt(t.root, e.config), e.root)
      return loadTable(ident)
    }
    // SET/UNSET of statsColumns or checkConstraints must REPLACE the
    // manifest's durable list (commitAt's default is the parent∪config
    // union, under which a narrowing SET / UNSET would silently
    // re-inherit the old list forever) — track which were touched and
    // pass the explicit replacement through commitAt's override params.
    var statsTouched = false
    var constraintsTouched = false
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          s"graft: nested ADD COLUMN is not supported " +
            s"(${add.fieldNames().mkString(".")})")
        val colName = add.fieldNames()(0)
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(colName)),
          s"graft: column $colName already exists in ${ident.name()}")
        // ADD COLUMN ... DEFAULT v: initial-default semantics — existing
        // rows read v, post-add stored NULLs stay NULL (see
        // CowTable.addColumn). The default folds/validates HERE, loudly.
        val metadata = Option(add.defaultValue()).fold(
          org.apache.spark.sql.types.Metadata.empty) { dv =>
          Option(dv.getSql) match {
            case Some(sql) =>
              graft.storage.ColumnDefaults.metadataFor(
                SparkSession.active, ident.name(), colName,
                add.dataType(), sql)
            case None =>
              // expression-valued default with no SQL text (connector-API
              // shape): accept when it reduced to a V2 literal, fold it
              // into the same metadata; anything else stays loud
              val v2 = Option(dv.getValue).getOrElse(
                throw new UnsupportedOperationException(
                  "graft: non-constant expression column DEFAULT is not " +
                    "supported — use a constant-foldable expression"))
              graft.storage.ColumnDefaults.metadataForValue(
                ident.name(), colName, add.dataType(), v2)
          }
        }
        val fld0 = StructField(colName, add.dataType(), nullable = true,
          metadata)
        schema = StructType(schema.fields :+
          Option(add.comment()).fold(fld0)(fld0.withComment))
      // ALTER COLUMN ... TYPE: METADATA-ONLY lossless widening (Delta's
      // type-widening feature / Iceberg schema evolution). Old files keep
      // their narrower physical type — both readers promote at scan time
      // (the row reader's INT32→Long/Decimal converters, the vectorized
      // reader's widening updaters), and every stats comparison in the
      // pruning stack is exact BigDecimal-over-strings, so integral and
      // same-scale decimal growth stay stat-exact (a pre-widen "5" parses
      // identically under BIGINT). bucket/truncate transform routing hashes
      // the CAST-TO-STRING form, which widening leaves byte-identical.
      // FLOAT→DOUBLE is rejected even though merges allow it (they REWRITE
      // at the wide type): a float-era stat string is the SHORTEST decimal
      // form ("0.1"), not the promoted double value (0.10000000149…), so a
      // metadata-only widen could make stats-skipping wrongly prune a file.
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames().length == 1,
          s"graft: nested ALTER COLUMN TYPE is not supported " +
            s"(${ut.fieldNames().mkString(".")})")
        val colName = ut.fieldNames()(0)
        val f = schema.fields.find(_.name == colName).getOrElse(
          throw new IllegalArgumentException(
            s"graft: no column $colName in ${ident.name()}"))
        val to = ut.newDataType()
        require(widenable(f.dataType, to),
          s"graft: ALTER COLUMN $colName TYPE ${to.sql} is not a lossless " +
            s"metadata-only widening from ${f.dataType.sql} — supported: " +
            "TINYINT→SMALLINT→INT→BIGINT, FLOAT→DOUBLE, and DECIMAL " +
            "precision growth at the same scale")
        // FLOAT→DOUBLE is value-lossless but NOT stat-string-lossless:
        // float-era stats are shortest-form FLOAT decimals, and comparing
        // them as-is against a post-widen double literal can mis-skip (the
        // widened value (double)(float)0.1 ≠ the literal 0.1). Re-derive
        // each affected file's stat strings at ALTER time (below) — the
        // shortest float form round-trips to the exact float, whose double
        // print is order-exact against any double literal.
        if (f.dataType == org.apache.spark.sql.types.FloatType &&
            to == org.apache.spark.sql.types.DoubleType)
          floatWidened += m.physicalName(colName)
        // a declared DEFAULT refolds under the new type (the stored
        // EXISTS_DEFAULT literal is typed); every other metadata key
        // (comment etc.) is preserved as-is
        val metadata =
          if (f.metadata.contains(graft.storage.ColumnDefaults.CurrentKey))
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .withMetadata(graft.storage.ColumnDefaults.metadataFor(
                SparkSession.active, ident.name(), colName, to,
                f.metadata.getString(
                  graft.storage.ColumnDefaults.CurrentKey)))
              .build()
          else f.metadata
        schema = StructType(schema.fields.map(x =>
          if (x.name == colName) x.copy(dataType = to, metadata = metadata)
          else x))
      // ALTER COLUMN ... COMMENT: metadata-only, rides the schema field
      // (Spark's StructField comment convention) and survives data commits
      case uc: TableChange.UpdateColumnComment =>
        require(uc.fieldNames().length == 1,
          s"graft: nested column comments are not supported " +
            s"(${uc.fieldNames().mkString(".")})")
        val colName = uc.fieldNames()(0)
        require(schema.fieldNames.contains(colName),
          s"graft: no column $colName in ${ident.name()}")
        schema = StructType(schema.fields.map(f =>
          if (f.name == colName) f.withComment(uc.newComment()) else f))
      case sp: TableChange.SetProperty =>
        cfg = applyProperty(cfg, sp.property, Some(sp.value))
        if (sp.property == "statsColumns") statsTouched = true
        if (sp.property == "checkConstraints") constraintsTouched = true
      case rp: TableChange.RemoveProperty =>
        cfg = applyProperty(cfg, rp.property, None)
        if (rp.property == "statsColumns") statsTouched = true
        if (rp.property == "checkConstraints") constraintsTouched = true
      case other => throw new UnsupportedOperationException(
        s"graft: unsupported ALTER TABLE change $other — ADD COLUMN " +
          "evolves the schema; SET/UNSET TBLPROPERTIES adjusts behavior " +
          "properties")
    }
    // ADD CONSTRAINT semantics (Delta parity): a newly introduced CHECK
    // constraint must hold on the EXISTING snapshot — one full validation
    // scan, loud failure, nothing committed on violation. "New" is diffed
    // against the MANIFEST's durable list (in `cfg` via configAt above),
    // not the registry entry — a registry lagging another session's ADD
    // must not trigger a redundant full-table validation scan.
    val durableConstraints = m.checkConstraints
    val newConstraints =
      cfg.checkConstraints.filterNot(durableConstraints.contains)
    val updated = CowTable(SparkSession.active, rootOf(e).toString, cfg)
    if (newConstraints.nonEmpty)
      CowTable(SparkSession.active, rootOf(e).toString,
        cfg.copy(checkConstraints = newConstraints))
        .enforceConstraints(t.read(), "ALTER TABLE ADD CONSTRAINT")
    // evolveMapping: an added column whose name collides with a dropped
    // predecessor's burned physical slot gets a FRESH physical name here —
    // old bytes can never resurrect under the new column
    // FLOAT→DOUBLE stat re-derivation (metadata-only, O(files) driver):
    // parse each float-era stat string back to its exact float, print the
    // widened double. An unparseable string (corrupt/NaN-adjacent form)
    // DROPS the stat — a missing stat only disables skipping, never
    // mis-skips.
    def widenStat(sv: String): Option[String] =
      scala.util.Try(java.lang.Float.parseFloat(sv).toDouble.toString)
        .toOption
    val carried =
      if (floatWidened.isEmpty) m.files
      else m.files.map { fe =>
        var out = fe
        floatWidened.foreach { phys =>
          out.extra.get(phys).foreach { r =>
            val mn = r.mn.flatMap(widenStat)
            val mx = r.mx.flatMap(widenStat)
            out = out.copy(extra =
              if (mn.isDefined == r.mn.isDefined &&
                mx.isDefined == r.mx.isDefined)
                out.extra.updated(phys, r.copy(mn = mn, mx = mx))
              else out.extra - phys) // parse failure: drop the range
          }
          if (m.primaryKey.headOption.map(m.physicalName).contains(phys))
            out = out.copy(minKey = out.minKey.flatMap(widenStat),
              maxKey = out.maxKey.flatMap(widenStat))
          if (m.primaryKey.lift(1).map(m.physicalName).contains(phys))
            out = out.copy(minKey2 = out.minKey2.flatMap(widenStat),
              maxKey2 = out.maxKey2.flatMap(widenStat))
        }
        out
      }
    updated.commitAt(parent = cur, fresh = Nil, carryOver = carried,
      schema = schema, dataChange = false,
      mappingOpt = Some(CowTable.evolveMapping(Some(m), schema)),
      statsColumnsOpt = if (statsTouched) Some(cfg.statsColumns) else None,
      checkConstraintsOpt =
        if (constraintsTouched) Some(cfg.checkConstraints) else None)
    if (cfg != e.config) LakeRegistry.register(warehouse, cfg, e.root)
    loadTable(ident)
  }

  /** STRICTLY-widening type changes whose metadata-only application is
    * stat-exact (see the ALTER COLUMN TYPE case above): the upward integral
    * chain, and decimal precision growth at an unchanged scale (physical
    * unscaled ints reinterpret exactly; the readers' decimal converters use
    * the TABLE's scale, so a scale change would silently rescale values —
    * rejected). */
  private[sources] def widenable(from: DataType, to: DataType): Boolean = {
    def rank(d: DataType): Option[Int] = d match {
      case ByteType => Some(0)
      case ShortType => Some(1)
      case IntegerType => Some(2)
      case LongType => Some(3)
      case _ => None
    }
    (from, to) match {
      case (a: DecimalType, b: DecimalType) =>
        a.scale == b.scale && a.precision < b.precision
      // FLOAT→DOUBLE: every float is exactly representable as a double;
      // the stat-string hazard is handled by re-derivation at ALTER time
      case (org.apache.spark.sql.types.FloatType,
            org.apache.spark.sql.types.DoubleType) => true
      case (a, b) =>
        (for { ra <- rank(a); rb <- rank(b) } yield ra < rb).getOrElse(false)
    }
  }

  /** Split the `checkConstraints` property on ';' — QUOTE-AWARE: a ';'
    * inside a SQL string literal (`c <> 'a;b'`, including the doubled-quote
    * escape `'it''s;ok'`) or a back-quoted identifier does not split, so
    * such constraints survive intact instead of being silently split into
    * two invalid fragments at CREATE/SET TBLPROPERTIES. An unterminated
    * quote is rejected loudly at DDL time ([[functions.expr]] is too
    * lenient to catch it at parse time — it would otherwise explode on the
    * first write). */
  private[sources] def parseConstraints(raw: String): Seq[String] = {
    val frags = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var quote: Char = 0 // 0 = top level, else the open quote char (' or `)
    var i = 0
    while (i < raw.length) {
      val ch = raw.charAt(i)
      if (quote == 0 && ch == ';') { frags += cur.result(); cur.clear() }
      else {
        if (quote == 0 && (ch == '\'' || ch == '`')) quote = ch
        else if (quote == ch) {
          // doubled quote inside a literal is the SQL escape, stay open
          if (i + 1 < raw.length && raw.charAt(i + 1) == ch) {
            cur += ch; i += 1
          } else quote = 0
        }
        cur += ch
      }
      i += 1
    }
    frags += cur.result()
    require(quote == 0,
      s"graft: checkConstraints value has an unterminated $quote-quoted " +
        s"section: $raw")
    frags.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Durable behavior properties adjustable post-create via
    * `ALTER TABLE ... SET/UNSET TBLPROPERTIES`. Layout-defining config
    * (primaryKey, partitionKey, clusterByKey) is immutable — changing it
    * would invalidate every existing file's stats and placement. New
    * `statsColumns`/`bloomIndex` apply to FUTURE files only; older files
    * simply lack the stats and are never skipped on them (the documented
    * degrade-safe direction). */
  private def applyProperty(
      cfg: graft.storage.TableConfig, key: String,
      value: Option[String]): graft.storage.TableConfig = key match {
    case "checkConstraints" => cfg.copy(checkConstraints = value
      .map(parseConstraints).getOrElse(Nil))
    case "changeDataFeed" =>
      cfg.copy(changeDataFeed = value.exists(_.trim.toBoolean))
    case "ndvSketch" =>
      cfg.copy(ndvSketch = value.exists(_.trim.toBoolean))
    case "deletionVectors" =>
      cfg.copy(deletionVectors = value.exists(_.trim.toBoolean))
    case "statsColumns" => cfg.copy(statsColumns = value
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil))
    case "bloomIndex" => cfg.copy(bloomIndex = value.exists(_.trim.toBoolean))
    case "maxRecordsPerFile" =>
      cfg.copy(maxRecordsPerFile = value.map(_.trim.toLong).getOrElse(0L))
    case "precombineKey" => cfg.copy(precombineKey = value.map(_.trim))
    case other => throw new UnsupportedOperationException(
      s"graft: table property '$other' is not alterable (layout-defining " +
        "config — primaryKey, partitionKey, clusterByKey — is immutable)")
  }

  override def dropTable(ident: Identifier): Boolean =
    isDefaultNs(ident.namespace()) &&
      LakeRegistry.unregister(warehouse, ident.name())

  /** `ALTER TABLE ... RENAME TO`: catalog-entry swap only — the table root
    * and every data file stay in place (zero bytes moved at any scale). */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    requireNs(oldIdent.namespace()); requireNs(newIdent.namespace())
    if (entryFor(oldIdent).isEmpty) throw new NoSuchTableException(oldIdent)
    if (entryFor(newIdent).isDefined)
      throw new TableAlreadyExistsException(newIdent)
    LakeRegistry.rename(warehouse, oldIdent.name(), newIdent.name())
  }

  // ---- CALL procedures: table maintenance as SQL -------------------------

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    requireNs(ident.namespace())
    GraftProcedures.load(warehouse, ident.name()).getOrElse(
      throw new NoSuchTableException(ident)) // closest loud analysis error
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] = {
    requireNs(namespace)
    GraftProcedures.list()
  }

  // ---- persisted VIEWS (ViewCatalog): CREATE/DROP/SHOW VIEW as SQL -------
  // A view is a named, PERSISTED query definition — one JSON file under
  // <warehouse>/_views/<name>.json (atomic tmp+move write, so readers see
  // whole definitions or none). Spark's analyzer expands the stored SQL at
  // query time against the stored catalog/namespace context, so a view
  // over lake tables keeps working in any later session. Names share the
  // lake's flat namespace with tables — collisions rejected both ways.

  import org.apache.spark.sql.connector.catalog.{View, ViewChange, ViewInfo}
  import GraftViews.ViewDef

  private def viewFile(name: String): Path = GraftViews.file(warehouse, name)

  /** Stored SQL of a lake view (the extension resolution rule's lookup). */
  private[graft] def viewSql(name: String): Option[String] =
    GraftViews.read(warehouse, name).map(_.sql)

  private def readViewDef(ident: Identifier): Option[ViewDef] = {
    requireNs(ident.namespace())
    GraftViews.read(warehouse, ident.name())
  }

  private def asView(ident: Identifier, d: ViewDef): View = new View {
    override def name(): String = ident.name()
    override def query(): String = d.sql
    override def currentCatalog(): String = d.currentCatalog
    override def currentNamespace(): Array[String] =
      d.currentNamespace.toArray
    override def schema(): StructType =
      org.apache.spark.sql.types.DataType.fromJson(d.schemaJson)
        .asInstanceOf[StructType]
    override def queryColumnNames(): Array[String] =
      d.queryColumnNames.toArray
    override def columnAliases(): Array[String] = d.columnAliases.toArray
    override def columnComments(): Array[String] = d.columnComments.toArray
    override def properties(): java.util.Map[String, String] = {
      val m = new java.util.HashMap[String, String]()
      d.properties.foreach { case (k, v) => m.put(k, v) }
      m
    }
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    requireNs(namespace.toArray)
    GraftViews.list(warehouse)
      .map(n => Identifier.of(Array("default"), n)).toArray
  }

  override def loadView(ident: Identifier): View =
    readViewDef(ident).map(asView(ident, _)).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(
        ident))

  override def createView(info: ViewInfo): View = {
    val ident = info.ident()
    requireNs(ident.namespace())
    require(entryFor(ident).isEmpty,
      s"graft: a TABLE named ${ident.name()} already exists in the lake")
    val d = ViewDef(info.sql(), info.currentCatalog(),
      info.currentNamespace().toSeq, info.schema().json,
      info.queryColumnNames().toSeq,
      Option(info.columnAliases()).fold(Seq.empty[String])(_.toSeq),
      Option(info.columnComments()).fold(Seq.empty[String])(
        _.toSeq.map(c => if (c == null) "" else c)),
      {
        import scala.jdk.CollectionConverters._
        Option(info.properties()).fold(Map.empty[String, String])(
          _.asScala.toMap)
      })
    if (!GraftViews.create(warehouse, ident.name(), d))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(ident)
    asView(ident, d)
  }

  /** ALTER VIEW SET/UNSET TBLPROPERTIES (the two changes the DSv2
    * ViewChange surface defines): fold into the stored definition and
    * atomically replace the view file. Definition changes go through
    * CREATE OR REPLACE VIEW as before. */
  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    requireNs(ident.namespace())
    val d0 = readViewDef(ident).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(
        ident))
    val props = changes.foldLeft(d0.properties) {
      case (p, s: ViewChange.SetProperty) =>
        require(s.property() != null && s.value() != null,
          "graft: ALTER VIEW SET TBLPROPERTIES: null property/value")
        p + (s.property() -> s.value())
      case (p, r: ViewChange.RemoveProperty) => p - r.property()
      case (_, other) => throw new UnsupportedOperationException(
        s"graft: unsupported ALTER VIEW change $other")
    }
    val d = d0.copy(properties = props)
    GraftViews.replace(warehouse, ident.name(), d)
    asView(ident, d)
  }

  override def dropView(ident: Identifier): Boolean = {
    requireNs(ident.namespace())
    GraftViews.delete(warehouse, ident.name())
  }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    requireNs(oldIdent.namespace()); requireNs(newIdent.namespace())
    if (!Files.exists(viewFile(oldIdent.name())))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(
        oldIdent)
    require(entryFor(newIdent).isEmpty,
      s"graft: a TABLE named ${newIdent.name()} already exists in the lake")
    if (!GraftViews.rename(warehouse, oldIdent.name(), newIdent.name()))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(newIdent)
  }

  // ---- namespaces: exactly one, `default` --------------------------------

  override def listNamespaces(): Array[Array[String]] =
    Array(Array("default"))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else { requireNs(namespace); Array.empty }

  override def namespaceExists(namespace: Array[String]): Boolean =
    isDefaultNs(namespace)

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] = {
    requireNs(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(
      namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft: the lake has one flat namespace (default)")

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft: the lake has one flat namespace (default)")

  override def dropNamespace(
      namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      "graft: the lake has one flat namespace (default)")
}
