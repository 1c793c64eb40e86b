package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, Write, WriteBuilder}
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

object GraftCatalog {
  /** Registers catalog `name` over `warehouse` on the session: the
    * `spark.sql.catalog.<name>` = "graft.sources.GraftCatalog" plus
    * `spark.sql.catalog.<name>.warehouse` pair. */
  def register(spark: org.apache.spark.sql.SparkSession, name: String,
      warehouse: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
  }
}

/** DataSource V2 `TableCatalog` over a directory of manifest tables —
  * the piece that makes the engine's own table format SQL-ADDRESSABLE:
  *
  * {{{
  *   GraftCatalog.register(spark, "graftcat", "/path/wh")
  *   spark.sql("SELECT * FROM graftcat.wh.orders WHERE k > 10")
  *   spark.sql("INSERT INTO graftcat.wh.orders SELECT ...")
  * }}}
  *
  * Identifier → path mapping is `warehouse/<namespace…>/<table>`; a
  * table EXISTS iff a committed manifest (with schema header) is
  * present — the same commit-point rule every reader in this format
  * follows, so a half-created directory is simply not a table yet.
  * Loaded tables support batch reads (with all of [[ManifestSource]]'s
  * stats/bloom pruning and pushdown), streaming micro-batch reads
  * (snapshot-version offsets), and batch writes through the snapshot
  * log (`INSERT INTO` = append commit, `INSERT OVERWRITE` = logical
  * truncate commit) — so SQL DML lands in the same versioned,
  * time-travelable history the DataFrame writer produces.
  *
  * At 100 TB the catalog is pure metadata: createTable publishes one
  * schema-only snapshot; listTables is a directory listing; nothing
  * ever touches data files.
  */
class GraftCatalog extends TableCatalog with FunctionCatalog
  with ProcedureCatalog with ViewCatalog with StagingTableCatalog
  with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: String = _

  // ---- NAMESPACE DDL (SupportsNamespaces): a namespace is a
  // warehouse directory that is NOT a table (no committed manifest
  // schema). CREATE NAMESPACE materializes the directory plus a
  // `_PROPS.json` sidecar (the same property codec tables use), so
  // empty namespaces survive listing; DROP refuses a non-empty
  // namespace unless CASCADE. All operations are O(children) driver
  // metadata — no data moves.
  private def nsPath(ns: Array[String]): Path =
    new Path((warehouse +: ns).mkString("/"))

  private def isTableDir(ns: Array[String]): Boolean =
    ManifestSink.readSchema(conf, (warehouse +: ns).mkString("/")).isDefined

  private def nsExists(ns: Array[String]): Boolean = {
    val p = nsPath(ns)
    ns.nonEmpty && p.getFileSystem(conf).exists(p) && !isTableDir(ns)
  }

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(parent: Array[String]): Array[Array[String]] = {
    if (parent.nonEmpty && !nsExists(parent))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(parent)
    val p = nsPath(parent)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Array.empty
    fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
      .filter(n => !isTableDir(parent :+ n))
      .sorted
      .map(n => parent :+ n)
      .toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    nsExists(namespace)

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!nsExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    ManifestSink.readTableProps(conf,
      nsPath(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(namespace.nonEmpty && namespace.forall(_.nonEmpty),
      "namespace must be non-empty")
    if (nsExists(namespace) || isTableDir(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(namespace)
    val p = nsPath(namespace)
    p.getFileSystem(conf).mkdirs(p)
    // persist properties (empty map still writes the sidecar — the
    // marker is what makes a fresh empty namespace listable)
    ManifestSink.writeTableProps(conf, p.toString,
      metadata.asScala.toMap -- Seq(SupportsNamespaces.PROP_OWNER))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = {
    if (!nsExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    val dir = nsPath(namespace).toString
    val props = changes.foldLeft(ManifestSink.readTableProps(conf, dir)) {
      case (m, s: NamespaceChange.SetProperty) =>
        m + (s.property() -> s.value())
      case (m, r: NamespaceChange.RemoveProperty) => m - r.property()
      case (_, other) => throw new UnsupportedOperationException(
        s"namespace change $other is not supported")
    }
    ManifestSink.writeTableProps(conf, dir, props)
  }

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!nsExists(namespace)) return false
    val hasChildren = listTables(namespace).nonEmpty ||
      listNamespaces(namespace).nonEmpty
    if (hasChildren && !cascade)
      throw new org.apache.spark.sql.catalyst.analysis
        .NonEmptyNamespaceException(namespace)
    val p = nsPath(namespace)
    p.getFileSystem(conf).delete(p, true)
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"catalog '$name' requires option 'warehouse'")
  }

  override def name(): String = catalogName

  /** CHECK constraints are a first-class table change (see
    * [[GraftCatalogTable.constraints]]). */
  override def capabilities(): util.Set[TableCatalogCapability] =
    Set(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS)
      .asJava

  private def conf = ManifestSink.driverConf()

  private def tablePath(ident: Identifier): String =
    (warehouse +: ident.namespace() :+ ident.name()).mkString("/")

  override def tableExists(ident: Identifier): Boolean =
    ManifestSink.readSchema(conf, tablePath(ident)).isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = new Path((warehouse +: namespace).mkString("/"))
    val fs = ns.getFileSystem(conf)
    if (!fs.exists(ns)) return Array.empty
    fs.listStatus(ns).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(t => ManifestSink
        .readSchema(conf, (warehouse +: namespace :+ t).mkString("/")).isDefined)
      .map(t => Identifier.of(namespace, t))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val p = tablePath(ident)
    ManifestSink.readSchemaAndColMap(conf, p) match {
      case Some((schema, cm)) =>
        // re-attach COLUMN DEFAULTS as the field-metadata pair Spark's
        // default resolution consumes (the DDL codec stores the schema
        // clean; the pair lives on the snapshot's colmap header)
        val withDefaults =
          if (cm.defaults.isEmpty) schema
          else StructType(schema.fields.zipWithIndex.map { case (f, i) =>
            val id = cm.ids.lift(i).getOrElse(i)
            cm.defaults.get(id) match {
              case Some((cur, ex)) =>
                val b = new org.apache.spark.sql.types.MetadataBuilder()
                  .withMetadata(f.metadata)
                if (cur.nonEmpty) b.putString("CURRENT_DEFAULT", cur)
                if (ex.nonEmpty) b.putString("EXISTS_DEFAULT", ex)
                f.copy(metadata = b.build())
              case None => f
            }
          })
        val spec = ManifestSink.readTableSpec(conf, p)
        val order = ManifestSink.readTableOrder(conf, p)
        val props = ManifestSink.readTableProps(conf, p)
        // identity spec re-attaches as field metadata so DESCRIBE and
        // write-side validation see it (the DDL codec stores schemas
        // clean; the props sidecar is the spec's canonical store)
        val loaded = ManifestIdentity.parse(props) match {
          case Some(s) => StructType(withDefaults.fields.map { f =>
            if (f.name != s.col) f
            else f.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putLong(ManifestIdentity.MetaStart, s.start)
                .putLong(ManifestIdentity.MetaStep, s.step)
                .putBoolean(ManifestIdentity.MetaAllow, s.allowExplicit)
                .build())
          })
          case None => withDefaults
        }
        spec match {
          // identity-split tables expose SHOW PARTITIONS / ALTER
          // TABLE DROP PARTITION (partition values ARE manifest
          // metadata there — see [[GraftSplitCatalogTable]]); a
          // days()/hours() spec gets the TIME-transform face (the
          // partition values are DERIVED day/hour ordinals)
          case Some((0, c)) =>
            ManifestSink.readTableTransform(conf, p) match {
              case Some(tf) =>
                new GraftTimeSplitCatalogTable(ident, p, loaded, c, tf,
                  order, props)
              case None =>
                new GraftSplitCatalogTable(ident, p, loaded, c,
                  order, props)
            }
          case _ =>
            new GraftCatalogTable(ident, p, loaded, spec,
              order, props)
        }
      case None =>
        // METADATA TABLES (the Iceberg `db.table.history` shape):
        // `SELECT * FROM cat.ns.t.history|files|branches` parses as
        // namespace (ns, t) + the metadata name — if the parent IS a
        // table, serve the requested metadata relation. Pure
        // metadata: each reads version manifests (KBs), never data
        // files.
        if (ident.namespace().nonEmpty) {
          val parent = (warehouse +: ident.namespace()).mkString("/")
          if (ManifestSink.readSchema(conf, parent).isDefined)
            ident.name() match {
              case "history"  => return new ManifestHistoryTable(parent)
              case "files"    => return new ManifestFilesTable(parent)
              case "partitions" => return new ManifestPartitionsTable(parent)
              case "branches" => return new ManifestBranchesTable(parent)
              case "tags"     => return new ManifestTagsTable(parent)
              case "refs"     => return new ManifestRefsTable(parent)
              case "columns"  => return new ManifestColumnsTable(parent)
              case _          => ()
            }
        }
        throw new NoSuchTableException(ident)
    }
  }

  /** SQL time travel: `SELECT … FROM graftcat.ns.t VERSION AS OF 2`
    * resolves the immutable snapshot manifest — schema AND part list
    * as of that commit; `VERSION AS OF 'release-1'` resolves a TAG
    * (immutable named ref, pinned against expiry) to its version;
    * `VERSION AS OF 'audit'` resolves a live BRANCH to its staged
    * head — the pure-SQL audit read of write-audit-publish (same
    * answer as `option("branch", ...)`, no DataFrame API needed).
    * Returns the read-only table (history is not writable). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = tablePath(ident)
    val v = try version.toInt catch {
      case _: NumberFormatException =>
        ManifestSink.readTag(conf, p, version).getOrElse {
          if (ManifestSink.listBranches(conf, p).contains(version)) {
            val schema = ManifestSink.readBranchSchema(conf, p, version)
              .getOrElse(throw new NoSuchTableException(ident))
            return new ManifestReadTable(p, schema, None,
              branch = Some(version))
          }
          throw new IllegalArgumentException(
            s"'$version' is neither a snapshot version, a tag, nor a " +
              s"branch of $ident (tags: ${ManifestSink.listTags(conf, p)
                .map(_._1).mkString(", ")}; branches: " +
              s"${ManifestSink.listBranches(conf, p).mkString(", ")})")
        }
    }
    val schema = ManifestSink.readSchema(conf, p, Some(v))
      .getOrElse(throw new NoSuchTableException(ident))
    new ManifestReadTable(p, schema, Some(v))
  }

  /** SQL time travel by TIME: `… TIMESTAMP AS OF '2026-01-01 00:00:00'`
    * resolves the newest snapshot committed at or before the instant
    * (Delta/Iceberg semantics). Version files are immutable once
    * claimed, so their modification time IS the commit time; an
    * instant older than the first commit fails loudly rather than
    * serving an empty table. Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val p = tablePath(ident)
    val ms = timestampMicros / 1000L
    val dir = new org.apache.hadoop.fs.Path(p)
    val fs = dir.getFileSystem(conf)
    val versions = ManifestSink.listVersions(conf, p)
    val atOrBefore = versions.filter { v =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(dir,
        ManifestSink.versionFile(v))).getModificationTime <= ms
    }
    val v = atOrBefore.lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot of $ident committed at or before " +
          s"timestamp_micros=$timestampMicros (versions: " +
          s"${versions.mkString(",")})"))
    val schema = ManifestSink.readSchema(conf, p, Some(v))
      .getOrElse(throw new NoSuchTableException(ident))
    new ManifestReadTable(p, schema, Some(v))
  }

  /** The TWO layout transforms the format persists:
    *
    *  - `PARTITIONED BY (bucket(n, col))` writes the table-level
    *    bucket spec; every later INSERT routes through the bucketed
    *    writer + clustered distribution with no per-write options —
    *    the storage layout that makes scans report
    *    KeyGroupedPartitioning (shuffle-free joins and aggregations
    *    on the key; see [[graft.functions.GraftBucket]]).
    *  - `PARTITIONED BY (col)` (identity) writes the split spec
    *    (encoded as bucket count 0); every INSERT routes through the
    *    value-split writer + clustered distribution, committing one
    *    SINGLE-VALUED part per distinct value — point predicates
    *    prune to the value's parts and GROUP BY the column answers
    *    from the manifest alone (grouped metadata aggregates). */
  /** Shared by CREATE TABLE and the staged CTAS path: the layout
    * transform list → the persisted (buckets, column, time-transform)
    * spec (0 encodes the identity/time split; the transform slot is
    * "days"/"hours" for hidden time partitioning, see
    * [[TimeSplit]]). */
  private def parseLayout(schema: StructType,
      partitions: Array[Transform]): Option[(Int, String, Option[String])] =
    partitions.toSeq match {
      case Seq() => None
      case Seq(t) if TimeSplit.valid(t.name()) &&
          t.arguments().length == 1 =>
        val name = t.arguments()(0) match {
          case r: expressions.NamedReference => r.fieldNames().mkString(".")
          case a => throw new IllegalArgumentException(
            s"${t.name()}(col): col must be a column reference, got $a")
        }
        val f = schema.fields.find(_.name.equalsIgnoreCase(name))
        require(f.exists(_.dataType ==
          org.apache.spark.sql.types.TimestampType),
          s"${t.name()}-partition column '$name' must be a TIMESTAMP " +
            s"column of ${schema.fieldNames.mkString("(", ",", ")")}")
        Some((0, f.get.name, Some(t.name())))
      case Seq(t) if t.name() == "identity" && t.arguments().length == 1 =>
        val name = t.arguments()(0) match {
          case r: expressions.NamedReference => r.fieldNames().mkString(".")
          case a => throw new IllegalArgumentException(
            s"PARTITIONED BY (col): col must be a column reference, got $a")
        }
        require(schema.fields.exists(f => f.name.equalsIgnoreCase(name) &&
          (f.dataType == LongType ||
            f.dataType == org.apache.spark.sql.types.StringType)),
          s"identity-partition column '$name' must be a BIGINT or " +
            s"STRING column of ${schema.fieldNames.mkString("(", ",", ")")}")
        Some((0, name, None))
      case Seq(t) if t.name() == "bucket" && t.arguments().length == 2 =>
        val n = t.arguments()(0) match {
          case l: expressions.Literal[_] =>
            l.value().asInstanceOf[Number].intValue()
          case a => throw new IllegalArgumentException(
            s"bucket(n, col): n must be a literal, got $a")
        }
        val name = t.arguments()(1) match {
          case r: expressions.NamedReference => r.fieldNames().mkString(".")
          case a => throw new IllegalArgumentException(
            s"bucket(n, col): col must be a column reference, got $a")
        }
        val keyed = schema.fields.find(_.dataType == LongType).map(_.name)
        require(keyed.contains(name),
          s"bucket column '$name' must be the table's first BIGINT " +
            s"column (${keyed.getOrElse("none present")}) — bucket " +
            "routing and stats pruning share that column")
        Some((n, name, None))
      case other => throw new UnsupportedOperationException(
        s"graft tables support PARTITIONED BY (bucket(n, col)), " +
          s"PARTITIONED BY (days(col) | hours(col)) or " +
          s"PARTITIONED BY (col), got ${other.mkString(", ")}")
    }

  /** The v2 `Column[]` create path: Spark delivers identity specs as
    * first-class [[Column]] attributes (NOT re-encoded into field
    * metadata by the default bridge), so capture them here before
    * delegating to the StructType path. */
  override def createTable(
      ident: Identifier, columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val base =
      org.apache.spark.sql.graftbridge.GraftCatalogV2.toStructType(columns)
    val withIdent = StructType(base.fields.zip(columns).map {
      case (f, c) =>
        val b = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        Option(c.identityColumnSpec()).foreach { s =>
          b.putLong(ManifestIdentity.MetaStart, s.getStart)
          b.putLong(ManifestIdentity.MetaStep, s.getStep)
          b.putBoolean(ManifestIdentity.MetaAllow, s.isAllowExplicitInsert)
        }
        Option(c.generationExpression()).foreach(e =>
          b.putString(MetaGenerated, e))
        f.copy(metadata = b.build())
    })
    createTable(ident, withIdent, partitions, properties)
  }

  /** Field-metadata key this catalog uses to thread a generated
    * column's expression from the v2 create to the StructType path. */
  private val MetaGenerated = "graft.generation.expression"

  override def createTable(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    validateStructDepth(schema)
    // CLUSTER BY (c) — the liquid-clustering DDL spelling: maps to
    // the WRITE ORDERED BY layout (every INSERT range-distributes and
    // sorts on the column, parts land with disjoint ranges → tight
    // min/max pruning from the first write, no OPTIMIZE needed).
    // Same machinery as CALL set_layout(spec => 'none', order_by =>
    // c), declared at birth.
    val (clusterBy, layoutTransforms) =
      partitions.partition(_.name() == "cluster_by")
    val clusterCol: Option[String] = clusterBy.headOption.map { t =>
      val cols = t.arguments().collect {
        case r: expressions.NamedReference => r.fieldNames().mkString(".")
      }
      require(cols.length == 1,
        s"CLUSTER BY supports exactly one column here (multi-dimension " +
          s"clustering is CALL system.compact(zorder => '...')), got " +
          cols.mkString("(", ", ", ")"))
      val f = schema.fields.find(_.name.equalsIgnoreCase(cols.head))
      require(f.exists(x => x.dataType == LongType ||
        x.dataType == org.apache.spark.sql.types.StringType),
        s"CLUSTER BY column '${cols.head}' must be a BIGINT or STRING " +
          s"column of ${schema.fieldNames.mkString("(", ",", ")")}")
      f.get.name
    }
    val bucketSpec: Option[(Int, String, Option[String])] =
      parseLayout(schema, layoutTransforms)
    require(clusterCol.isEmpty || bucketSpec.isEmpty,
      "CLUSTER BY cannot combine with PARTITIONED BY — one layout " +
        "owns row placement")
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    bucketSpec.foreach { case (n, col, tf) =>
      require(n >= 0, s"bucket count must be >= 0, got $n")
      ManifestSink.writeTableSpec(conf, tablePath(ident), n, col,
        transform = tf)
    }
    clusterCol.foreach(c => ManifestSink.writeTableSpec(conf,
      tablePath(ident), -1, "", orderBy = Some(c)))
    // COLUMN DEFAULTS at create: Spark delivers them as the field-
    // metadata pair (CURRENT_DEFAULT, EXISTS_DEFAULT) — capture into
    // the snapshot's colmap header keyed by field id, then store the
    // schema CLEAN (the DDL codec carries no metadata)
    val defaults: Map[Int, (String, String)] =
      schema.fields.zipWithIndex.collect {
        case (f, i) if f.metadata.contains("CURRENT_DEFAULT") ||
            f.metadata.contains("EXISTS_DEFAULT") =>
          def key(k: String) =
            if (f.metadata.contains(k)) f.metadata.getString(k) else ""
          i -> (key("CURRENT_DEFAULT"), key("EXISTS_DEFAULT"))
      }.toMap
    // IDENTITY COLUMNS at create (GENERATED [ALWAYS | BY DEFAULT] AS
    // IDENTITY): capture the spec from field metadata into the table
    // props; the stored schema keeps the column NULLABLE on purpose —
    // an INSERT that omits or NULLs the slot is the generate request,
    // and the sink guarantees no NULL ever lands (ManifestIdentity).
    val identCols = schema.fields.filter(
      _.metadata.contains(ManifestIdentity.MetaStart))
    require(identCols.length <= 1,
      s"at most one identity column per table, got " +
        identCols.map(_.name).mkString(", "))
    val identSpec: Option[ManifestIdentity.Spec] = identCols.headOption
      .map { f =>
        require(f.dataType == LongType,
          s"identity column '${f.name}' must be BIGINT, " +
            s"got ${f.dataType.simpleString}")
        ManifestIdentity.Spec(f.name,
          f.metadata.getLong(ManifestIdentity.MetaStart),
          f.metadata.getLong(ManifestIdentity.MetaStep),
          f.metadata.getBoolean(ManifestIdentity.MetaAllow))
      }
    // GENERATED COLUMNS at create (GENERATED ALWAYS AS (expr)):
    // validate now — parse/analyze against the table schema, refuse
    // nondeterminism, generated-/identity-column references, and type
    // drift — then persist the expression SQL in the table props.
    // Stored NULLABLE like identity columns: omission IS the compute
    // request; the sink guarantees no NULL lands (ManifestGenerated).
    val genSpecs: Seq[(String, String)] = schema.fields.collect {
      case f if f.metadata.contains(MetaGenerated) =>
        f.name -> f.metadata.getString(MetaGenerated)
    }.toSeq
    if (genSpecs.nonEmpty) {
      val banned = genSpecs.map(_._1).toSet ++ identSpec.map(_.col)
      val session = org.apache.spark.sql.SparkSession.active
      val plain = StructType(schema.fields.map(f =>
        StructField(f.name, f.dataType, f.nullable)))
      genSpecs.foreach { case (c, e) =>
        ManifestGenerated.bind(session, plain, c, e, banned)
      }
    }
    val computed = genSpecs.map(_._1).toSet ++ identSpec.map(_.col)
    val clean = StructType(schema.fields.map { f =>
      val g = StructField(f.name, f.dataType,
        f.nullable || computed.contains(f.name))
      f.getComment().fold(g)(g.withComment)
    })
    // TBLPROPERTIES at create: persist the user's keys (and the
    // COMMENT, which Spark delivers as the 'comment' property);
    // engine-reserved keys are not table metadata
    val userProps = (properties.asScala.toMap -- Seq(
      TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL)) ++
      identSpec.map(s => ManifestIdentity.PropKey -> s.render) ++
      (if (genSpecs.isEmpty) Map.empty[String, String]
       else Map(ManifestGenerated.PropKey ->
         ManifestGenerated.render(genSpecs)))
    if (userProps.nonEmpty)
      ManifestSink.writeTableProps(conf, tablePath(ident), userProps)
    // a table is born as a schema-only snapshot: same commit protocol,
    // zero parts — readers see an empty versioned table immediately
    ManifestSink.publishSnapshot(conf, tablePath(ident), clean, Seq.empty,
      history = true,
      colmap = if (defaults.isEmpty) None
        else Some(ColMap.identity(clean.fields.length)
          .copy(defaults = defaults)),
      op = "create")
    loadTable(ident)
  }

  /** Atomic CTAS / RTAS ([[GraftStagedTable]]): `CREATE TABLE … AS
    * SELECT` and `REPLACE TABLE … AS SELECT` stage the query's parts
    * first and publish ONE snapshot at the end — a failed query
    * leaves no new table (CTAS) / the old table untouched and
    * readable (RTAS). Spark routes here automatically because the
    * catalog implements StagingTableCatalog. */
  /** STRUCT columns are supported at DEPTH 1 (atomic sub-fields
    * only — the line codec is flat; see ManifestCodec's struct
    * token). Deeper nesting is rejected at CREATE TIME — shared by
    * CREATE TABLE and every staged CTAS/RTAS path, so no create
    * spelling can smuggle a schema the codec would garble into a
    * committed snapshot (the write path re-checks in
    * [[ManifestBatchWrite]] for the path-based spelling).
    * Generalizes the reference's progressively-enriched prediction
    * record (estimate_queue.py:80-88) to a typed, evolvable struct
    * column. */
  private def validateStructDepth(schema: StructType): Unit =
    ManifestSink.validateStructDepth(schema)

  /** CTAS/RTAS define every row inline, so "generated" has no
    * meaning there — refuse rather than silently not generating. */
  private def refuseStagedIdentity(columns: Array[Column]): Unit =
    columns.find(c => c.identityColumnSpec() != null ||
        c.generationExpression() != null).foreach { c =>
      throw new UnsupportedOperationException(
        s"identity/generated column '${c.name()}' is not supported in " +
          "CTAS/RTAS — CREATE the table first, then INSERT")
    }

  override def stageCreate(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    refuseStagedIdentity(columns)
    val schema = org.apache.spark.sql.graftbridge.GraftCatalogV2.toStructType(columns)
    validateStructDepth(schema)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    new GraftStagedTable(ident, tablePath(ident), schema,
      parseLayout(schema, partitions), replace = false,
      tableProps = stagedProps(properties))
  }

  override def stageReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    refuseStagedIdentity(columns)
    val schema = org.apache.spark.sql.graftbridge.GraftCatalogV2.toStructType(columns)
    validateStructDepth(schema)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftStagedTable(ident, tablePath(ident), schema,
      parseLayout(schema, partitions), replace = true,
      tableProps = stagedProps(properties))
  }

  override def stageCreateOrReplace(ident: Identifier,
      columns: Array[Column], partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    refuseStagedIdentity(columns)
    val schema = org.apache.spark.sql.graftbridge.GraftCatalogV2.toStructType(columns)
    validateStructDepth(schema)
    new GraftStagedTable(ident, tablePath(ident), schema,
      parseLayout(schema, partitions), replace = tableExists(ident),
      tableProps = stagedProps(properties))
  }

  /** User-facing TBLPROPERTIES of a staged CTAS/RTAS (engine-reserved
    * keys stripped, COMMENT kept on its 'comment' key). */
  private def stagedProps(
      properties: util.Map[String, String]): Map[String, String] =
    properties.asScala.toMap -- Seq(
      TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL)

  /** `ALTER TABLE t ADD | RENAME | DROP COLUMN` — the DDL face of the
    * format's schema evolution, every variant a METADATA-ONLY commit
    * (no data file is read or written):
    *
    *  - ADD publishes the head's part list under the widened schema;
    *    existing parts read back NULL for the new column. The column
    *    gets a FRESH field id ([[ColMap]]), so re-adding a name at a
    *    previously-dropped column's position can never resurrect the
    *    dropped bytes still sitting in old parts.
    *  - RENAME changes the logical name only — field ids (and hence
    *    every part's layout) are untouched. The old name is RETIRED:
    *    reusing it is rejected, so per-part stats recorded under a
    *    name always describe the same physical column (pruning stays
    *    provably sound across renames).
    *  - DROP removes the field from the logical schema; parts keep
    *    their bytes (time travel still sees the column) and readers
    *    simply never resolve the dropped id. Guarded against the two
    *    stats-identity hazards: the stats key column (first BIGINT)
    *    and the string-stats column (first STRING) may only be
    *    dropped when no LATER column of the same type would silently
    *    inherit their per-part min/max.
    *
    * Schema-changing commits pin `strictBase` to the head they read —
    * a racing commit fails the DDL loudly rather than composing a
    * half-stale schema. Type changes stay rejected: committed lines
    * would be re-interpreted. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = tablePath(ident)
    val baseVersion = ManifestSink.listVersions(conf, p)
      .lastOption.getOrElse(0)
    val (schema, colmap0) = ManifestSink.readSchemaAndColMap(conf, p,
        if (baseVersion == 0) None else Some(baseVersion))
      .getOrElse(throw new NoSuchTableException(ident))
    var constraints = ManifestSink.readConstraints(conf, p)
    var colmap = colmap0
    var props = ManifestSink.readTableProps(conf, p)
    var schemaChanged = false
    var constraintsChanged = false
    var propsChanged = false
    def constraintRefs(name: String): Seq[String] =
      constraints.collect { case (n, sql)
        if ("""\b""" + java.util.regex.Pattern.quote(name) + """\b""").r
          .findFirstIn(sql).isDefined => n
      }
    // NESTED DDL shared resolution: the parent must be a top-level
    // depth-1 struct column; returns (parent index, parent field id,
    // struct type, nested mapping). Nested evolution rides the same
    // stable-id machinery as the top level, one level down
    // ([[ColMap.nested]]): metadata-only commits, no data rewrite.
    def nestedTarget(s: StructType, parent: String)
        : (Int, Int, StructType, ColMap.Nested) = {
      // resolve against the FOLDED schema: colmap.ids is maintained in
      // lock-step with it by every change in this ALTER
      val pIdx = s.fieldNames.indexWhere(_.equalsIgnoreCase(parent))
      require(pIdx >= 0, s"no column '$parent' in $ident")
      val st = s.fields(pIdx).dataType match {
        case t: StructType => t
        case o => throw new IllegalArgumentException(
          s"'$parent' is ${o.simpleString}, not a struct — nested DDL " +
            "applies to struct fields")
      }
      val pid = colmap.ids.lift(pIdx).getOrElse(pIdx)
      (pIdx, pid, st, colmap.nestedOf(pid, st.fields.length))
    }
    def atomicType(dt: DataType): Boolean = dt match {
      case _: StructType | _: org.apache.spark.sql.types.ArrayType |
          _: org.apache.spark.sql.types.MapType => false
      case _ => true
    }
    val widened = changes.foldLeft(schema) {
      // ADD COLUMN parent.child — appended at the struct's end with a
      // FRESH nested id: parts written before read NULL for the new
      // sub-slot, and a previously dropped sub-field's bytes can
      // never resurrect under the new name
      case (s, add: TableChange.AddColumn)
          if add.fieldNames().length == 2 =>
        val parent = add.fieldNames()(0)
        val child = add.fieldNames()(1)
        val (pIdx, pid, st, nm) = nestedTarget(s, parent)
        require(atomicType(add.dataType()),
          s"nested field '$parent.$child' must be an atomic type " +
            "(depth-1 structs only — the line codec is flat)")
        require(!st.fieldNames.exists(_.equalsIgnoreCase(child)),
          s"field '$parent.$child' already exists in $ident")
        require(!nm.isRetired(child),
          s"field name '$parent.$child' was previously dropped or " +
            s"renamed away on $ident and cannot be reused")
        require(add.isNullable,
          s"added field '$parent.$child' must be nullable " +
            "(existing rows have no value for it)")
        require(add.position() == null,
          "nested fields can only be added at the end (struct tokens " +
            "are positional; reordering would re-interpret committed data)")
        require(add.defaultValue() == null,
          "nested DEFAULT is not supported — added struct fields read " +
            "NULL for pre-existing rows")
        schemaChanged = true
        colmap = colmap.copy(nested = colmap.nested + (pid ->
          nm.copy(ids = nm.ids :+ nm.nextId, nextId = nm.nextId + 1)))
        val nf = StructField(child, add.dataType(), nullable = true)
        StructType(s.fields.updated(pIdx, s.fields(pIdx).copy(
          dataType = StructType(st.fields :+ nf))))
      case (s, add: TableChange.AddColumn) =>
        require(add.fieldNames().length == 1,
          "nested ADD COLUMN applies to depth-1 struct fields only " +
            "(parent.child)")
        val colName = add.fieldNames()(0)
        require(!s.fieldNames.exists(_.equalsIgnoreCase(colName)),
          s"column '$colName' already exists in $ident")
        require(!colmap.isRetired(colName),
          s"column name '$colName' was previously dropped or renamed " +
            s"away on $ident and cannot be reused (stats recorded under " +
            "it would describe a different column)")
        require(add.isNullable,
          s"added column '$colName' must be nullable " +
            "(existing rows have no value for it)")
        require(add.position() == null,
          "columns can only be added at the end (part files are " +
            "positional; reordering would re-interpret committed data)")
        schemaChanged = true
        val newId = colmap.nextId
        colmap = colmap.copy(ids = colmap.ids :+ newId,
          nextId = colmap.nextId + 1)
        // ADD COLUMN ... DEFAULT v: the CURRENT default fills omitted
        // writes from now on; the EXISTS default (the literal, frozen
        // here) is what every pre-existing row reads for its missing
        // slot — a metadata-only backfill of the whole table
        Option(add.defaultValue()).foreach { dv =>
          val cur = dv.getSql
          val ex = Option(dv.getValue).map(l =>
            org.apache.spark.sql.catalyst.expressions.Literal(
              l.value(), l.dataType()).sql).getOrElse(cur)
          colmap = colmap.copy(
            defaults = colmap.defaults + (newId -> (cur, ex)))
        }
        val f = StructField(colName, add.dataType(), nullable = true)
        s.add(Option(add.comment()).fold(f)(f.withComment))
      // ALTER COLUMN TYPE — WIDENING only, metadata-only: the line
      // codec is textual, so "5" decodes as BIGINT exactly as it
      // decoded as INT, and a DECIMAL widens at the same scale with
      // no re-render. Float→double is REJECTED: the text round-trip
      // would widen by decimal value where Spark's cast widens by
      // binary value — two different answers, so the change must not
      // pretend to be free. Field ids are untouched (same column,
      // same slots); time travel reads each snapshot under its own
      // committed type.
      // ALTER COLUMN parent.child TYPE — the same value-exact WIDENING
      // set as the top level (textual line codec: "5" decodes as
      // BIGINT exactly as it decoded as INT; DECIMAL widens at the
      // same scale with no re-render), metadata-only. Nested fields
      // carry NO per-part stats, so the top level's stats-identity
      // guards are vacuous here; nested ids are untouched (same
      // sub-column, same sub-slots). Time travel reads each snapshot
      // under its own committed sub-type.
      case (s, ut: TableChange.UpdateColumnType)
          if ut.fieldNames().length == 2 =>
        val parent = ut.fieldNames()(0)
        val name = ut.fieldNames()(1)
        val (pIdx, _, st, _) = nestedTarget(s, parent)
        val fIdx = st.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        require(fIdx >= 0, s"no field '$parent.$name' in $ident")
        val from = st.fields(fIdx).dataType
        val to = ut.newDataType()
        val widens = (from, to) match {
          case (ByteType, ShortType | IntegerType | LongType) => true
          case (ShortType, IntegerType | LongType)            => true
          case (IntegerType, LongType)                        => true
          case (da: DecimalType, db: DecimalType) =>
            db.scale == da.scale && db.precision >= da.precision
          case _ => false
        }
        require(widens,
          s"unsupported type change ${from.simpleString} -> " +
            s"${to.simpleString} on '$parent.$name': only integral " +
            "widening and same-scale DECIMAL precision growth are " +
            "value-exact under the text codec")
        schemaChanged = true
        StructType(s.fields.updated(pIdx, s.fields(pIdx).copy(
          dataType = StructType(st.fields.updated(fIdx,
            st.fields(fIdx).copy(dataType = to))))))
      case (s, ut: TableChange.UpdateColumnType) =>
        require(ut.fieldNames().length == 1,
          "nested ALTER COLUMN TYPE applies to depth-1 struct fields " +
            "only (parent.child)")
        val name = ut.fieldNames()(0)
        val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        require(idx >= 0, s"no column '$name' in $ident")
        val from = s.fields(idx).dataType
        val to = ut.newDataType()
        val widens = (from, to) match {
          case (ByteType, ShortType | IntegerType | LongType) => true
          case (ShortType, IntegerType | LongType)            => true
          case (IntegerType, LongType)                        => true
          case (da: DecimalType, db: DecimalType) =>
            db.scale == da.scale && db.precision >= da.precision
          case _ => false
        }
        require(widens,
          s"unsupported type change ${from.simpleString} -> " +
            s"${to.simpleString} on '$name': only integral widening " +
            "and same-scale DECIMAL precision growth are value-exact " +
            "under the text codec (committed lines are never rewritten)")
        // stats-identity guard: committed parts' key ranges/blooms
        // describe the first BIGINT column of their write schema — a
        // widening that CHANGES which column that is would misapply
        // them to different data
        if (to == LongType) {
          val keyIdx = s.fields.indexWhere(_.dataType == LongType)
          require(keyIdx >= 0 && keyIdx < idx,
            s"cannot widen '$name' to BIGINT: it would become the " +
              s"table's stats key column (first BIGINT) and committed " +
              "parts' key ranges describe other data — rewrite the " +
              "table instead")
        }
        schemaChanged = true
        StructType(s.fields.updated(idx, s.fields(idx).copy(dataType = to)))
      // RENAME COLUMN parent.child TO new — metadata-only: the nested
      // field id (and every committed sub-slot) is untouched; only
      // the logical name changes. The old name retires so stats or
      // constraints recorded under it can never bind a different
      // physical sub-column later.
      case (s, rn: TableChange.RenameColumn)
          if rn.fieldNames().length == 2 =>
        val parent = rn.fieldNames()(0)
        val from = rn.fieldNames()(1)
        val to = rn.newName()
        val (pIdx, pid, st, nm) = nestedTarget(s, parent)
        val fIdx = st.fieldNames.indexWhere(_.equalsIgnoreCase(from))
        require(fIdx >= 0, s"no field '$parent.$from' in $ident")
        require(!st.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"field '$parent.$to' already exists in $ident")
        require(!nm.isRetired(to),
          s"field name '$parent.$to' was previously dropped or renamed " +
            s"away on $ident and cannot be reused")
        // conservative: a CHECK constraint mentioning either the bare
        // sub-name or the dotted path blocks the rename
        (constraintRefs(from) ++ constraintRefs(s"$parent.$from"))
          .distinct match {
          case Seq() => ()
          case refs => throw new IllegalArgumentException(
            s"cannot rename '$parent.$from': referenced by CHECK " +
              s"constraint(s) ${refs.mkString(", ")} — drop them first")
        }
        schemaChanged = true
        colmap = colmap.copy(nested = colmap.nested + (pid ->
          nm.copy(retired = nm.retired :+ st.fields(fIdx).name)))
        StructType(s.fields.updated(pIdx, s.fields(pIdx).copy(
          dataType = StructType(st.fields.updated(fIdx,
            st.fields(fIdx).copy(name = to))))))
      case (s, rn: TableChange.RenameColumn) =>
        require(rn.fieldNames().length == 1,
          "nested RENAME COLUMN applies to depth-1 struct fields only " +
            "(parent.child)")
        val from = rn.fieldNames()(0)
        val to = rn.newName()
        val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(from))
        require(idx >= 0, s"no column '$from' in $ident")
        require(!s.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"column '$to' already exists in $ident")
        require(!colmap.isRetired(to),
          s"column name '$to' was previously dropped or renamed away " +
            s"on $ident and cannot be reused")
        constraintRefs(from) match {
          case Seq() => ()
          case refs => throw new IllegalArgumentException(
            s"cannot rename '$from': referenced by CHECK constraint(s) " +
              s"${refs.mkString(", ")} — drop them first")
        }
        // the bucket layout routes by this name in the write
        // distribution and the reported partitioning — follow it
        ManifestSink.readTableSpec(conf, p).foreach { case (n, c) =>
          if (c.equalsIgnoreCase(from))
            ManifestSink.writeTableSpec(conf, p, n, to,
              transform = ManifestSink.readTableTransform(conf, p))
        }
        schemaChanged = true
        colmap = colmap.copy(retired = colmap.retired :+ s.fields(idx).name)
        StructType(s.fields.updated(idx, s.fields(idx).copy(name = to)))
      // DROP COLUMN parent.child — metadata-only: the sub-field's id
      // leaves the nested mapping, so readers never resolve its slot
      // again (committed sub-bytes stay in old parts for time travel;
      // they can never resurrect because a later ADD gets a fresh id).
      case (s, del: TableChange.DeleteColumn)
          if del.fieldNames().length == 2 =>
        val parent = del.fieldNames()(0)
        val name = del.fieldNames()(1)
        val (pIdx, pid, st, nm) = nestedTarget(s, parent)
        val fIdx = st.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        if (fIdx < 0) {
          if (del.ifExists()) s
          else throw new IllegalArgumentException(
            s"no field '$parent.$name' in $ident")
        } else {
          require(st.fields.length > 1,
            s"cannot drop '$parent.$name': it is the only field of " +
              s"struct '$parent' — drop the column instead")
          (constraintRefs(name) ++ constraintRefs(s"$parent.$name"))
            .distinct match {
            case Seq() => ()
            case refs => throw new IllegalArgumentException(
              s"cannot drop '$parent.$name': referenced by CHECK " +
                s"constraint(s) ${refs.mkString(", ")} — drop them first")
          }
          schemaChanged = true
          colmap = colmap.copy(nested = colmap.nested + (pid ->
            nm.copy(ids = nm.ids.patch(fIdx, Nil, 1),
              retired = nm.retired :+ st.fields(fIdx).name)))
          StructType(s.fields.updated(pIdx, s.fields(pIdx).copy(
            dataType = StructType(st.fields.patch(fIdx, Nil, 1)))))
        }
      case (s, del: TableChange.DeleteColumn) =>
        require(del.fieldNames().length == 1,
          "nested DROP COLUMN applies to depth-1 struct fields only " +
            "(parent.child)")
        val name = del.fieldNames()(0)
        val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        if (idx < 0) {
          if (del.ifExists()) s
          else throw new IllegalArgumentException(
            s"no column '$name' in $ident")
        } else {
          require(s.fields.length > 1,
            s"cannot drop '$name': it is the only column of $ident")
          constraintRefs(name) match {
            case Seq() => ()
            case refs => throw new IllegalArgumentException(
              s"cannot drop '$name': referenced by CHECK constraint(s) " +
                s"${refs.mkString(", ")} — drop them first")
          }
          ManifestSink.readTableSpec(conf, p).foreach { case (_, c) =>
            require(!c.equalsIgnoreCase(name),
              s"cannot drop '$name': it is the bucket column of $ident")
          }
          // stats-identity guards: committed parts carry key (first
          // BIGINT) and string (first STRING) min/max positionally —
          // a LATER column of the same type would inherit them and
          // prune WRONG after the drop
          val f = s.fields(idx)
          if (f.dataType == LongType &&
              s.fields.indexWhere(_.dataType == LongType) == idx)
            require(!s.fields.drop(idx + 1).exists(_.dataType == LongType),
              s"cannot drop '$name': it is the stats key column (first " +
                s"BIGINT) of $ident and a later BIGINT column would " +
                "inherit its per-part key range — rewrite the table first")
          if (f.dataType == StringType &&
              s.fields.indexWhere(_.dataType == StringType) == idx)
            require(!s.fields.drop(idx + 1).exists(_.dataType == StringType),
              s"cannot drop '$name': it is the string-stats column " +
                s"(first STRING) of $ident and a later STRING column " +
                "would inherit its per-part min/max — rewrite the table first")
          schemaChanged = true
          colmap = colmap.copy(
            ids = colmap.ids.patch(idx, Nil, 1),
            retired = colmap.retired :+ f.name,
            defaults = colmap.defaults - colmap.ids(idx))
          StructType(s.fields.patch(idx, Nil, 1))
        }
      // ALTER COLUMN ... SET/DROP DEFAULT: changes only the CURRENT
      // (write-time) default; the EXISTS default stays frozen — rows
      // that predate the column keep reading the value promised when
      // it was added, exactly Delta/Iceberg's split
      case (s, ud: TableChange.UpdateColumnDefaultValue) =>
        require(ud.fieldNames().length == 1,
          "nested ALTER COLUMN is not supported")
        val name = ud.fieldNames()(0)
        val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        require(idx >= 0, s"no column '$name' in $ident")
        val id = colmap.ids.lift(idx).getOrElse(idx)
        val ex = colmap.defaults.get(id).map(_._2).getOrElse("")
        val cur = Option(ud.newCurrentDefault()).map(_.getSql).getOrElse("")
        schemaChanged = true
        colmap = colmap.copy(defaults =
          if (cur.isEmpty && ex.isEmpty) colmap.defaults - id
          else colmap.defaults + (id -> (cur, ex)))
        s
      // ALTER TABLE ADD CONSTRAINT … CHECK (…): Spark has already
      // validated the EXISTING rows (AddCheckConstraintExec scans the
      // table and fails the command on a violation) before this call
      // — we only persist; enforcement of FUTURE writes is the
      // engine's (ResolveTableConstraints reads constraints() and
      // wraps every write in a CheckInvariant)
      case (s, ac: TableChange.AddConstraint) =>
        ac.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            require(!constraints.exists(_._1.equalsIgnoreCase(c.name())),
              s"constraint '${c.name()}' already exists on $ident")
            constraints = constraints :+ (c.name() -> c.predicateSql())
            constraintsChanged = true
            s
          case other => throw new UnsupportedOperationException(
            s"only CHECK constraints are supported, got ${other.toDDL}")
        }
      case (s, dc: TableChange.DropConstraint) =>
        val exists = constraints.exists(_._1.equalsIgnoreCase(dc.name()))
        if (!exists && !dc.ifExists()) throw new IllegalArgumentException(
          s"no constraint '${dc.name()}' on $ident " +
            s"(have: ${constraints.map(_._1).mkString(", ")})")
        if (exists) {
          constraints = constraints.filterNot(_._1.equalsIgnoreCase(dc.name()))
          constraintsChanged = true
        }
        s
      // ALTER TABLE SET/UNSET TBLPROPERTIES (COMMENT ON TABLE rides
      // the 'comment' key): operational key-value metadata in the
      // props sidecar — no snapshot commit, data untouched
      case (s, sp: TableChange.SetProperty) =>
        props = props + (sp.property -> sp.value)
        propsChanged = true
        s
      case (s, rp: TableChange.RemoveProperty) =>
        props = props - rp.property
        propsChanged = true
        s
      // ALTER TABLE ... CLUSTER BY (c) / CLUSTER BY NONE: the
      // clustering lifecycle's other half — replaces (or clears) the
      // write-ordered layout as pure sidecar metadata; existing parts
      // keep their committed placement (compaction migrates), new
      // INSERTs range-distribute + sort on the new column. Same
      // machinery as CALL set_layout(spec => 'none', order_by => c).
      case (s, cb: TableChange.ClusterBy) =>
        val cols = cb.clusteringColumns().map(_.fieldNames().mkString("."))
        require(ManifestSink.readTableSpec(conf, p).isEmpty,
          s"ALTER TABLE CLUSTER BY: a bucket/identity layout owns row " +
            s"placement on $ident — replace it via CALL set_layout")
        if (cols.isEmpty) ManifestSink.clearTableSpec(conf, p)
        else {
          require(cols.length == 1,
            "CLUSTER BY supports exactly one column here " +
              "(multi-dimension clustering is CALL compact(zorder))")
          val f = s.fields.find(_.name.equalsIgnoreCase(cols.head))
          require(f.exists(x => x.dataType == LongType ||
            x.dataType == org.apache.spark.sql.types.StringType),
            s"CLUSTER BY column '${cols.head}' must be a BIGINT or " +
              s"STRING column of ${s.fieldNames.mkString("(", ",", ")")}")
          ManifestSink.writeTableSpec(conf, p, -1, "",
            orderBy = Some(f.get.name))
        }
        s
      case (_, c) => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change $c — schema evolves " +
          "additively (ADD COLUMN / append commits) only")
    }
    if (propsChanged)
      ManifestSink.writeTableProps(conf, p, props)
    if (constraintsChanged)
      ManifestSink.writeConstraints(conf, p, constraints)
    if (schemaChanged)
      ManifestSink.publishRebase(conf, p, widened, history = true,
        rebase = head => head,
        strictBase = if (baseVersion > 0) Some(baseVersion) else None,
        colmapOverride = Some(colmap), op = "alter")
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(tablePath(ident))
    val fs = p.getFileSystem(conf)
    tableExists(ident) && fs.delete(p, true)
  }

  /** `ALTER TABLE t RENAME TO u` — one filesystem rename plus an
    * O(versions) manifest re-point: every table artifact (version
    * manifests, part files, branch/tag refs, layout spec, properties,
    * constraints) lives INSIDE the table directory, so the move
    * itself carries everything — but manifests record part and
    * sidecar paths ABSOLUTELY (shallow clones depend on that), so
    * after the move each version/branch/head manifest gets its old
    * prefix textually re-pointed to the new directory (KB-sized
    * files, metadata-only; a rename is not concurrent-safe against
    * in-flight commits by nature, same as any engine). Hazards,
    * documented not hidden: a SHALLOW CLONE of the renamed table
    * still references the old path and breaks (as in Delta), and an
    * MV fed by it fails its next refresh loudly naming the old path
    * — recreate against the new name. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val src = new Path(tablePath(oldIdent))
    val dst = new Path(tablePath(newIdent))
    val fs = src.getFileSystem(conf)
    fs.mkdirs(dst.getParent)
    if (fs.exists(dst)) throw new TableAlreadyExistsException(newIdent)
    if (!fs.rename(src, dst))
      throw new java.io.IOException(
        s"rename $oldIdent -> $newIdent failed at $src")
    // re-point recorded absolute paths (raw + URL-encoded forms — the
    // manifest "path"/"dvref" fields are encoded) in every manifest
    val srcStr = src.toString
    val dstStr = dst.toString
    val srcUri = src.toUri.getPath
    val dstUri = dst.toUri.getPath
    fs.listStatus(dst).filter { st =>
      val n = st.getPath.getName
      n == ManifestSink.ManifestFile ||
        (n.startsWith("_MANIFEST.") && n.endsWith(".json")) ||
        (n.startsWith("_BRANCH-") && n.endsWith(".json"))
    }.foreach { st =>
      val in = fs.open(st.getPath)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val repointed = body
        .replace(ManifestSink.encPath(srcStr), ManifestSink.encPath(dstStr))
        .replace(ManifestSink.encPath(srcUri), ManifestSink.encPath(dstUri))
        .replace(srcStr, dstStr).replace(srcUri, dstUri)
      if (repointed != body) {
        val tmp = new Path(dst,
          s".${st.getPath.getName}.rn${java.util.UUID.randomUUID().toString.take(8)}.tmp")
        val out = fs.create(tmp, true)
        try out.write(repointed.getBytes("UTF-8")) finally out.close()
        fs.delete(st.getPath, false)
        if (!fs.rename(tmp, st.getPath))
          throw new java.io.IOException(
            s"manifest re-point failed for ${st.getPath}")
      }
    }
  }

  // --- FunctionCatalog: the engine's cross-engine hash as a SQL
  // function — `SELECT graftcat.ns.h64(expr)` computes exactly
  // [[graft.functions.OracleHash.h64]] (top 60 bits of md5), so
  // SQL-authored pipelines share the hash contract the DataFrame
  // operators are built on.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "h64"), Identifier.of(namespace, "bucket"),
      Identifier.of(namespace, "days"), Identifier.of(namespace, "hours"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    ident.name() match {
      case "h64"    => H64Function
      case "bucket" => GraftBucketFunction
      case "days" => GraftTimeOrdinalFunction.Days
      case "hours" => GraftTimeOrdinalFunction.Hours
      case _        => throw new NoSuchFunctionException(ident)
    }

  // --- ProcedureCatalog: the table-maintenance lifecycle as SQL
  // `CALL graftcat.system.<proc>(...)` (Spark 4's native DSv2
  // procedure API — see [[GraftProcedures]] for the registry and the
  // at-scale rationale).
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(Identifier.of(namespace, _)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    if (!ident.namespace().sameElements(Array("system")))
      throw new IllegalArgumentException(
      s"procedures live in the 'system' namespace " +
        s"(got ${ident.namespace().mkString(".")}.${ident.name()})")
    GraftProcedures.load(ident.name(), warehouse).getOrElse(
      throw new IllegalArgumentException(
        s"unknown procedure '${ident.name()}' " +
          s"(known: ${GraftProcedures.names.mkString(", ")})"))
  }

  // --- ViewCatalog: `CREATE VIEW cat.ns.v AS SELECT ...` persisted
  // as one metadata record per view (see [[GraftViews]] for the
  // storage contract). Spark re-expands the stored SQL text at
  // resolution, so a view composes with every table feature — time
  // travel, metadata tables, pushdown — for free.
  override def listViews(namespace: String*): Array[Identifier] =
    GraftViews.list(conf, warehouse, namespace.toArray)

  override def loadView(ident: Identifier): View =
    GraftViews.read(conf, warehouse, ident)
      .getOrElse(throw new NoSuchViewException(ident))

  override def viewExists(ident: Identifier): Boolean =
    GraftViews.exists(conf, warehouse, ident)

  override def createView(info: ViewInfo): View = {
    require(!tableExists(info.ident()),
      s"cannot create view ${info.ident()}: a table with that name exists")
    if (GraftViews.exists(conf, warehouse, info.ident()))
      throw new ViewAlreadyExistsException(info.ident())
    GraftViews.write(conf, warehouse, info, orReplace = false)
    loadView(info.ident())
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    if (!orCreate && !GraftViews.exists(conf, warehouse, info.ident()))
      throw new NoSuchViewException(info.ident())
    GraftViews.write(conf, warehouse, info, orReplace = true)
    loadView(info.ident())
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val v = loadView(ident)
    val props = new util.HashMap[String, String](v.properties())
    changes.foreach {
      case s: ViewChange.SetProperty    => props.put(s.property(), s.value())
      case r: ViewChange.RemoveProperty => props.remove(r.property())
      case c => throw new UnsupportedOperationException(
        s"unsupported ALTER VIEW change $c")
    }
    GraftViews.write(conf, warehouse, new ViewInfo(ident, v.query(),
      v.currentCatalog(), v.currentNamespace(), v.schema(),
      v.queryColumnNames(), v.columnAliases(), v.columnComments(), props),
      orReplace = true)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    GraftViews.drop(conf, warehouse, ident)

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val v = GraftViews.read(conf, warehouse, oldIdent)
      .getOrElse(throw new NoSuchViewException(oldIdent))
    if (GraftViews.exists(conf, warehouse, newIdent) || tableExists(newIdent))
      throw new ViewAlreadyExistsException(newIdent)
    GraftViews.write(conf, warehouse, new ViewInfo(newIdent, v.query(),
      v.currentCatalog(), v.currentNamespace(), v.schema(),
      v.queryColumnNames(), v.columnAliases(), v.columnComments(),
      v.properties()), orReplace = false)
    GraftViews.drop(conf, warehouse, oldIdent)
  }
}

/** The snapshot log as a TABLE (`SELECT * FROM cat.ns.t.history` —
  * Delta's DESCRIBE HISTORY / Iceberg's `.history` analog): one row
  * per committed version with its part count, VISIBLE row count
  * (deletion vectors subtracted), vectored-part count, data bytes,
  * and commit time. Entirely manifest-derived — the scan opens zero
  * data files at any table size; expired versions simply stop
  * appearing (their manifests are gone). `commit_time_ms` is the
  * version file's mtime — the same clock TIMESTAMP AS OF resolves
  * against. */
private[sources] class ManifestHistoryTable(path: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read._
  import org.apache.spark.sql.catalyst.InternalRow

  private val historySchema = StructType.fromDDL(
    "version INT, operation STRING, n_parts BIGINT, n_rows BIGINT, " +
      "n_vectored BIGINT, total_bytes BIGINT, commit_time_ms BIGINT")

  override def name(): String = s"manifest($path).history"
  override def schema(): StructType = historySchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.Scan with Batch {
          override def readSchema(): StructType = historySchema
          override def toBatch: Batch = this
          override def description(): String =
            s"graft.ManifestHistoryScan($path)"
          override def planInputPartitions(): Array[InputPartition] = {
            val conf = ManifestSink.driverConf()
            val dir = new Path(path)
            val fs = dir.getFileSystem(conf)
            val rows = ManifestSink.listVersions(conf, path).map { v =>
              val parts = ManifestSink.readManifestMeta(conf, path, Some(v))
              val mtime = fs.getFileStatus(
                new Path(dir, ManifestSink.versionFile(v))).getModificationTime
              (Array[Long](v.toLong, parts.size.toLong,
                parts.map(_.visibleRows).sum,
                parts.count(_.hasDv).toLong,
                parts.map(_.bytes).sum, mtime),
                ManifestSink.readOp(conf, path, Some(v)))
            }.toArray
            Array(HistoryPartition(rows))
          }
          override def createReaderFactory(): PartitionReaderFactory =
            new PartitionReaderFactory {
              override def createReader(p: InputPartition): PartitionReader[InternalRow] =
                new PartitionReader[InternalRow] {
                  private val rows = p.asInstanceOf[HistoryPartition].rows
                  private var i = -1
                  override def next(): Boolean = { i += 1; i < rows.length }
                  override def get(): InternalRow = {
                    val (r, op) = rows(i)
                    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                      Array[Any](r(0).toInt,
                        org.apache.spark.unsafe.types.UTF8String.fromString(op),
                        r(1), r(2), r(3), r(4), r(5)))
                  }
                  override def close(): Unit = ()
                }
            }
        }
    }
}

private[sources] case class HistoryPartition(
    rows: Array[(Array[Long], String)])
    extends org.apache.spark.sql.connector.read.InputPartition

/** SQL-callable twin of [[graft.functions.OracleHash.h64]]: top 60
  * bits of md5 of the UTF-8 string rendering, as non-negative BIGINT —
  * bit-identical to both the Column helper and the DuckDB oracle
  * formula (CatalogSpec pins all three). */
private[sources] object H64Function extends UnboundFunction {
  override def name(): String = "h64"
  override def description(): String =
    "h64(string): top 60 bits of md5 as non-negative BIGINT"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1 &&
      inputType.fields(0).dataType == StringType,
      s"h64 takes one STRING argument, got ${inputType.simpleString}")
    new ScalarFunction[java.lang.Long] {
      override def inputTypes(): Array[DataType] = Array(StringType)
      override def resultType(): DataType = LongType
      override def name(): String = "h64"
      override def canonicalName(): String = "graft.h64"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): java.lang.Long = {
        val s = input.getUTF8String(0)
        if (s == null) null
        else {
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(s.getBytes)
          // first 15 hex digits = top 7.5 bytes; build the value
          // nibble-by-nibble to avoid string round-trips
          var v = 0L
          var i = 0
          while (i < 15) {
            val b = d(i / 2) & 0xff
            val nibble = if (i % 2 == 0) b >>> 4 else b & 0xf
            v = (v << 4) | nibble
            i += 1
          }
          java.lang.Long.valueOf(v)
        }
      }
    }
  }
}

/** A catalog-loaded manifest table: batch read (full pushdown
  * surface), streaming read (snapshot offsets), history-mode batch
  * write (INSERT INTO appends a snapshot; INSERT OVERWRITE is a
  * logical truncate commit), and METADATA-ONLY `DELETE FROM`.
  *
  * DELETE accepts a predicate only when every part is DECIDABLE from
  * manifest stats alone — provably all-match (part's [min, max] lies
  * inside the deleted key range, key column non-nullable) or provably
  * none-match (ranges disjoint). The commit is then one new snapshot
  * that simply stops listing the dropped parts: no data file is read,
  * written, or removed, and time travel still sees the deleted rows —
  * the Iceberg/Delta "metadata delete" fast path. An undecidable
  * predicate (straddling a part, non-key column, nullable key) is
  * REJECTED at analysis via canDeleteWhere rather than half-applied;
  * a copy-on-write rewrite is the documented escalation a row-level
  * delete would take. On a range-partitioned layout (each part owns a
  * disjoint key range) retention deletes are decidable by
  * construction — CatalogSpec pins both paths. */
private[sources] class GraftCatalogTable(
    ident: Identifier, path: String, tableSchema: StructType,
    bucketSpec: Option[(Int, String)] = None,
    writeOrder: Option[String] = None,
    tableProps: Map[String, String] = Map.empty)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with TruncatableTable {

  /** The head-read table dir [[MvRewrite]] resolves — catalog TIME
    * TRAVEL loads a [[ManifestReadTable]] instead, so this class
    * always means "head". */
  private[sources] def tableDir: String = path

  /** Hidden time transform of a (0, col) split spec ("days"/"hours")
    * — None for plain identity splits. Overridden by
    * [[GraftTimeSplitCatalogTable]]; the write builder consults it to
    * cluster by the DERIVED ordinal and route the transform split
    * writer. */
  protected def splitTransform: Option[String] = None

  /** SQL `TRUNCATE TABLE` — a LOGICAL truncate: one empty-part-list
    * history snapshot (same schema), so pre-truncate versions stay
    * time-travelable and the data files stay until vacuum. Same
    * semantics as INSERT OVERWRITE of zero rows. */
  override def truncateTable(): Boolean = {
    ManifestSink.publishSnapshot(ManifestSink.driverConf(), path,
      tableSchema, Seq.empty, history = true, op = "truncate")
    true
  }

  import org.apache.spark.sql.connector.write.{RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo}

  /** `_part`/`_pos` — physical row address (see [[PartMetaColumn]],
    * [[PosMetaColumn]]); `_part` is also the group identity the
    * row-level rewrites require, and (`_part`, `_pos`) is what the
    * merge-on-read DELETE builds its deletion vectors from. */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(PartMetaColumn, PosMetaColumn)

  /** SQL UPDATE / MERGE INTO / non-translatable DELETE land here as
    * group-based copy-on-write rewrites ([[ManifestRowLevelOp]]) by
    * default, or as MERGE-ON-READ deltas ([[ManifestDeltaOp]],
    * Spark's SupportsDelta) under `graft.delete.mode=mor` — matched
    * rows become deletion-vector bits + appended row images instead
    * of part rewrites, the Iceberg-v2/Delta-DV shape for sparse DML
    * against wide tables. Stats-decidable DELETEs still take the
    * metadata fast path and translatable row-level DELETEs the
    * [[ManifestCow]]/[[ManifestMor]] paths — Spark's
    * OptimizeMetadataOnlyDeleteFromTable consults canDeleteWhere
    * before falling back to the rewrite, so adding row-level support
    * widens the DML surface without demoting the cheap paths. */
  /** BRANCH-SCOPED DML (`spark.conf.set("graft.branch", "audit")` —
    * Iceberg's `spark.wap.branch` session routing): with a branch
    * set, UPDATE / DELETE / MERGE read the BRANCH head and commit to
    * the branch line — the audit half of write-audit-publish gains
    * full DML, main stays untouched until fast_forward. Conflict
    * detection (strictBase + footprint) pins the branch's own
    * version line. Resolved per OPERATION, not per table load, so
    * one session can interleave branch and main statements. */
  private def sessionBranch: Option[String] =
    try org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => Option(s.conf.get("graft.branch", "")))
      .filter(_.nonEmpty)
    catch { case scala.util.control.NonFatal(_) => None }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = {
        val branch = sessionBranch
        if (ManifestMor.morEnabled(
            org.apache.spark.sql.SparkSession.active))
          new ManifestDeltaOp(path, tableSchema, info.command, branch)
        else new ManifestRowLevelOp(path, tableSchema, info.command, branch)
      }
    }

  import org.apache.spark.sql.sources.{Filter => V1Filter}
  import org.apache.spark.sql.sources.{EqualTo => FEq, GreaterThan => FGt, GreaterThanOrEqual => FGe, LessThan => FLt, LessThanOrEqual => FLe}

  private def keyField = tableSchema.fields.find(_.dataType == LongType)

  /** The retained part list over `parts`, when every part is
    * decidable; None when the predicate cannot be proven part-whole
    * from stats. Pure in `parts` so the commit loop can RE-APPLY it
    * against a freshly-read head on claim retry. */
  private def decideOn(parts: Seq[PartMeta],
      filters: Array[V1Filter]): Option[Seq[PartMeta]] = {
    val key = keyField match {
      case Some(f) if !f.nullable => f.name
      case _ => return None // nullable key: stats don't cover null rows
    }
    var lo = Long.MinValue
    var hi = Long.MaxValue
    filters.foreach {
      case FGt(c, v: Long) if c == key =>
        lo = math.max(lo, if (v == Long.MaxValue) v else v + 1)
      case FGe(c, v: Long) if c == key => lo = math.max(lo, v)
      case FLt(c, v: Long) if c == key =>
        hi = math.min(hi, if (v == Long.MinValue) v else v - 1)
      case FLe(c, v: Long) if c == key => hi = math.min(hi, v)
      case FEq(c, v: Long) if c == key =>
        lo = math.max(lo, v); hi = math.min(hi, v)
      case _ => return None // non-key / non-range predicate
    }
    val keep = parts.filter(p => p.kMax < lo || p.kMin > hi)
    val drop = parts.filter(p => p.kMin >= lo && p.kMax <= hi)
    if (keep.size + drop.size == parts.size) Some(keep) else None
  }

  private def decide(filters: Array[V1Filter]): Option[Seq[PartMeta]] =
    decideOn(ManifestSink.readManifestMeta(
      ManifestSink.driverConf(), path, None), filters)

  /** Metadata fast path when every part is stats-decidable; otherwise
    * the copy-on-write rewrite ([[ManifestCow]]) — accepted exactly
    * when the predicate is row-evaluable, so unsupported shapes are
    * still rejected at analysis rather than half-applied. */
  override def canDeleteWhere(filters: Array[V1Filter]): Boolean =
    // branch-routed sessions decline the metadata/COW fast paths
    // (both commit to MAIN); Spark then plans the row-level rewrite,
    // which routes to the branch line. EQUALITY deletes are the
    // exception — their commit is branch-aware, so they accept under
    // a session branch too.
    ManifestEq.canDelete(org.apache.spark.sql.SparkSession.active,
      path, tableSchema, filters) ||
      (sessionBranch.isEmpty &&
        (decide(filters).isDefined ||
          filters.forall(ManifestCow.translatable)))

  override def deleteWhere(filters: Array[V1Filter]): Unit = {
    // EQUALITY mode first (branch-aware; under a session branch the
    // other fast paths were declined at canDeleteWhere)
    val sparkNow = org.apache.spark.sql.SparkSession.active
    if (ManifestEq.canDelete(sparkNow, path, tableSchema, filters)) {
      ManifestEq.deleteWhere(path, tableSchema, filters, sessionBranch)
      return
    }
    decide(filters) match {
      case Some(_) =>
        // the keep list is recomputed from the head INSIDE the commit
        // loop, so a commit racing this delete keeps its parts; if the
        // new head makes the delete stats-undecidable, fail loudly
        // rather than half-apply (the caller re-plans → COW path)
        ManifestSink.publishRebase(ManifestSink.driverConf(), path,
          tableSchema, history = true,
          rebase = head => decideOn(head, filters).getOrElse(
            throw new java.util.ConcurrentModificationException(
              s"metadata DELETE on $path no longer stats-decidable " +
                "after a concurrent commit; re-plan (copy-on-write)")),
          strictBase = None, op = "delete")
      case None =>
        // row-level half, by session mode: deletion-vector commit
        // (graft.delete.mode=mor) or the copy-on-write rewrite
        // default — same answer, opposite cost shapes (the equality
        // path was dispatched above)
        if (ManifestMor.morEnabled(sparkNow))
          ManifestMor.deleteWhere(path, tableSchema, filters)
        else ManifestCow.deleteWhere(path, tableSchema, filters)
    }
  }

  override def name(): String = ident.toString
  override def schema(): StructType = tableSchema

  /** Stored TBLPROPERTIES (`SHOW TBLPROPERTIES` / `DESCRIBE EXTENDED`
    * read this; `COMMENT ON TABLE` rides the 'comment' key). */
  override def properties(): util.Map[String, String] =
    tableProps.asJava

  // AUTOMATIC_SCHEMA_EVOLUTION opts into Spark's
  // ResolveMergeIntoSchemaEvolution: `MERGE … WITH SCHEMA EVOLUTION`
  // funnels the source's new columns through this catalog's OWN
  // alterTable (AddColumn at end, fresh field id, metadata-only) —
  // no parallel evolution path exists
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  /** `spark.read.option("branch", "audit").table(...)` reads the
    * branch head — the audit-side read of write-audit-publish. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ManifestScanBuilder(path, tableSchema,
      new SerializableConfiguration(ManifestSink.driverConf()), None,
      startingVersion = StreamOptions.resolveStarting(options,
        ManifestSink.driverConf(), path),
      branch = Option(options.get("branch")).filter(_.nonEmpty),
      maxPartsPerTrigger = StreamOptions.maxPartsPerTrigger(options))

  /** Bucketed / identity-partitioned tables advertise their layout
    * (bucket count 0 encodes the identity split spec). */
  override def partitioning(): Array[Transform] =
    bucketSpec.map {
      case (0, c) => expressions.Expressions.identity(c)
      case (n, c) => expressions.Expressions.bucket(n, c)
    }.toArray

  /** Stored CHECK constraints, reported ENFORCED — Spark's
    * ResolveTableConstraints wraps every write to this table in a
    * CheckInvariant over these predicates, so a violating INSERT /
    * UPDATE / MERGE fails before any part commits. VALID because
    * ALTER TABLE ADD CONSTRAINT validated the existing rows before
    * the constraint was persisted. */
  override def constraints():
      Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    ManifestSink.readConstraints(ManifestSink.driverConf(), path)
      .map { case (n, sql) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(n).predicateSql(sql).enforced(true)
          .validationStatus(org.apache.spark.sql.connector.catalog
            .constraints.Constraint.ValidationStatus.VALID)
          .rely(true).build()
          : org.apache.spark.sql.connector.catalog.constraints.Constraint
      }.toArray

  /** `df.writeTo(...).option("branch", "audit").append()` stages the
    * commit on the branch — invisible to main readers until
    * [[ManifestMaintenance.fastForward]] publishes it. On a BUCKETED
    * table every write additionally (a) requires a distribution
    * clustered by `bucket(n, col)` — resolved through this catalog's
    * own function, so Spark plans one exchange that co-locates each
    * bucket's rows in one task and the writer emits ~one file per
    * bucket — and (b) routes rows through the bucketed writer, which
    * records the bucket ordinals the SPJ-reporting scan needs. Layout
    * policy lives with the table; writers stay ignorant. */
  /** Identity-column spec parsed once from the props sidecar —
    * the write side generates values (see [[ManifestIdentity]]). */
  private val identitySpec: Option[ManifestIdentity.Spec] =
    ManifestIdentity.parse(tableProps)

  /** Generated-column expression SQL, parsed once from the props
    * sidecar; bound per write against the write schema (see
    * [[ManifestGenerated]]). */
  private val generatedSpecs: Seq[(String, String)] =
    ManifestGenerated.parse(tableProps)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var doTruncate = false
      private var replaceFilters: Option[Array[V1Filter]] = None
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      /** SQL `INSERT INTO t REPLACE WHERE pred SELECT ...` /
        * `df.writeTo(t).overwrite(cond)` — OverwriteByExpression.
        * AlwaysTrue degenerates to the logical truncate; anything
        * else must be row-evaluable (same contract as DELETE), so an
        * untranslatable condition is rejected at ANALYSIS via
        * canOverwrite, never half-applied. */
      override def canOverwrite(filters: Array[V1Filter]): Boolean =
        filters.forall {
          case _: org.apache.spark.sql.sources.AlwaysTrue => true
          case f => ManifestCow.translatable(f)
        }
      override def overwrite(filters: Array[V1Filter]): WriteBuilder = {
        if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
          doTruncate = true
        else {
          require(canOverwrite(filters),
            "REPLACE WHERE condition not row-evaluable: " +
              filters.mkString(", "))
          replaceFilters = Some(filters)
        }
        this
      }
      override def build(): Write = {
        val branch = Option(info.options.get("branch")).filter(_.nonEmpty)
        val sconf = new SerializableConfiguration(ManifestSink.driverConf())
        // generated columns bind against THIS write's schema (insert
        // projections land in table order) on the driver, once
        val genFills: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] =
          if (generatedSpecs.isEmpty) Seq.empty
          else {
            val session = org.apache.spark.sql.SparkSession.active
            val banned = generatedSpecs.map(_._1).toSet ++
              identitySpec.map(_.col)
            generatedSpecs.flatMap { case (c, e) =>
              val slot = info.schema().fields.indexWhere(f =>
                ManifestGenerated.sameName(f.name, c))
              require(slot >= 0, s"generated column '$c' missing from " +
                s"the write schema ${info.schema().simpleString} — " +
                "select it as NULL (the sink computes it)")
              Seq(slot -> ManifestGenerated.bind(session, info.schema(),
                c, e, banned))
            }
          }
        // df.writeStream.toTable: exactly-once epoch appends through
        // [[ManifestStreamingWrite]] — append-mode only (a streaming
        // truncate/replace-where is not a log-structured sink shape)
        def streaming(buckets: Option[Int] = None,
            splitBy: Option[String] = None,
            splitTransform: Option[String] = None)
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          require(!doTruncate && replaceFilters.isEmpty,
            "streaming writes append only (use foreachBatch for " +
              "overwrite/replace-where shapes)")
          require(branch.isEmpty,
            "streaming writes target main (stage on a branch in batch)")
          require(identitySpec.isEmpty && generatedSpecs.isEmpty,
            "streaming writes into identity/generated-column tables " +
              "are not " +
              "supported (epoch replay would need the idempotence " +
              "marker to carry the issued range); generate ids in " +
              "foreachBatch or write to a staging table")
          new ManifestStreamingWrite(path, info.schema(), info.queryId(),
            sconf, buckets, splitBy, splitTransform)
        }
        bucketSpec match {
          case None if writeOrder.isDefined =>
            // WRITE ORDERED BY c (set_layout order_by): every INSERT
            // range-distributes on the column and sorts within each
            // task, so parts land key-sorted with DISJOINT ranges —
            // min/max pruning on c is tight from the first write, no
            // OPTIMIZE needed. Metadata-only: existing parts keep
            // whatever order they were written with.
            new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
              import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
              import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
              private val ord = Array(Expressions.sort(
                Expressions.column(writeOrder.get),
                org.apache.spark.sql.connector.expressions.SortDirection
                  .ASCENDING))
              override def requiredDistribution(): Distribution =
                Distributions.ordered(ord.map(_.asInstanceOf[org.apache.spark.sql.connector.expressions.SortOrder]))
              override def requiredOrdering(): Array[SortOrder] = ord
              override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
                new ManifestBatchWrite(path, info.schema(), doTruncate,
                  history = true, sconf, branch,
                  replaceFilters = replaceFilters, identity = identitySpec,
                  generated = genFills)
              override def toStreaming
                  : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
                streaming()
            }
          case None => new Write {
            override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
              new ManifestBatchWrite(path, info.schema(), doTruncate,
                history = true, sconf, branch,
                replaceFilters = replaceFilters, identity = identitySpec,
                  generated = genFills)
            override def toStreaming
                : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
              streaming()
          }
          case Some((0, c)) =>
            // identity/time split spec: cluster each (possibly
            // DERIVED — days/hours ordinal) value into one task,
            // split per value in the writer — single-valued parts.
            // The time transforms resolve through this catalog's own
            // days()/hours() functions, so Spark plans ONE exchange
            // that co-locates each ordinal's rows.
            import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
            import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
            new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
              override def requiredDistribution(): Distribution =
                Distributions.clustered(Array(splitTransform match {
                  case Some(TimeSplit.Days) => Expressions.days(c)
                  case Some(TimeSplit.Hours) => Expressions.hours(c)
                  case _ => Expressions.identity(c)
                }))
              override def requiredOrdering(): Array[SortOrder] = Array.empty
              override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
                new ManifestBatchWrite(path, info.schema(), doTruncate,
                  history = true, sconf, branch,
                  replaceFilters = replaceFilters, splitBy = Some(c),
                  splitTransform = splitTransform,
                  identity = identitySpec, generated = genFills)
              override def toStreaming
                  : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
                streaming(splitBy = Some(c), splitTransform = splitTransform)
            }
          case Some((n, c)) =>
            import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
            import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
            new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
              override def requiredDistribution(): Distribution =
                Distributions.clustered(Array(Expressions.bucket(n, c)))
              // sort by the key WITHIN each bucket task: parts land
              // key-sorted (the writer detects and records it), so
              // scans can report per-partition ordering and a
              // co-bucketed join skips its sorts too
              override def requiredOrdering(): Array[SortOrder] =
                Array(Expressions.sort(Expressions.column(c),
                  org.apache.spark.sql.connector.expressions.SortDirection
                    .ASCENDING))
              override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
                new ManifestBatchWrite(path, info.schema(), doTruncate,
                  history = true, sconf, branch, buckets = Some(n),
                  replaceFilters = replaceFilters, identity = identitySpec,
                  generated = genFills)
              override def toStreaming
                  : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
                streaming(buckets = Some(n))
            }
        }
      }
    }
}

/** Identity-split tables with Spark's PARTITION MANAGEMENT surface:
  * `SHOW PARTITIONS t [PARTITION (c = v)]` lists the distinct split
  * values straight off the head manifest (every split part is
  * PROVABLY single-valued — min == max, zero nulls — so the listing
  * is exact metadata, no data file opened), and `ALTER TABLE t DROP
  * PARTITION (c = v)` is a METADATA-ONLY delete: one snapshot that
  * stops listing the value's parts (time travel intact, files stay
  * until vacuum — the Hive DROP PARTITION idiom on the snapshot
  * log). Mixed-generation safety: if any PRE-LAYOUT part (not
  * single-valued) may still hold the value, the drop REFUSES and
  * names the fix (compact migrates the layout) rather than
  * half-applying. Partition CREATION/metadata mutation are derived
  * from data by design — INSERT rows instead. */
private[sources] class GraftSplitCatalogTable(
    ident: Identifier, path: String, tableSchema: StructType,
    splitCol: String, writeOrder: Option[String],
    tableProps: Map[String, String])
    extends GraftCatalogTable(ident, path, tableSchema,
      Some((0, splitCol)), writeOrder, tableProps)
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {

  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  private def conf = ManifestSink.driverConf()
  private def field: StructField =
    tableSchema.fields.find(_.name.equalsIgnoreCase(splitCol)).getOrElse(
      throw new IllegalStateException(
        s"split column '$splitCol' missing from ${tableSchema.sql}"))
  private def firstStr: Option[String] =
    tableSchema.fields.find(_.dataType == StringType).map(_.name)

  override def partitionSchema(): StructType =
    StructType(Seq(StructField(field.name, field.dataType, field.nullable)))

  private def toRow(raw: String): InternalRow = field.dataType match {
    case LongType => new GenericInternalRow(Array[Any](raw.toLong))
    case _ => new GenericInternalRow(Array[Any](UTF8String.fromString(raw)))
  }

  private def rawOf(id: InternalRow): String = field.dataType match {
    case LongType => id.getLong(0).toString
    case _ => id.getUTF8String(0).toString
  }

  override def listPartitionIdentifiers(names: Array[String],
      id: InternalRow): Array[InternalRow] = {
    val fs0 = firstStr
    val vals = ManifestSink.readManifestMeta(conf, path, None)
      .flatMap(m => MetaTables.singleValue(m, field.name, fs0))
      .distinct.sorted
    val filtered =
      if (names.isEmpty) vals
      else {
        require(names.length == 1 && names(0).equalsIgnoreCase(field.name),
          s"unknown partition column(s) ${names.mkString(", ")} — the " +
            s"split layout partitions by '${field.name}' only")
        val want = rawOf(id)
        vals.filter(_ == want)
      }
    filtered.map(toRow).toArray
  }

  /** Could a part whose single-valuedness is NOT provable still hold
    * the value? (pre-layout generation parts; stats get a veto) */
  private def mayHold(m: PartMeta, want: String): Boolean =
    m.cstats.get(field.name) match {
      case Some(st) if st.kind == 'l' =>
        st.nulls != m.rows &&
          want.toLong >= st.lMin && want.toLong <= st.lMax
      case Some(st) =>
        st.nulls != m.rows && StrBin.cmp(want, st.min) >= 0 &&
          StrBin.cmp(want, st.max) <= 0
      case None =>
        if (firstStr.contains(field.name))
          m.strOverlaps(Some(want), Some(want))
        else true // untracked: cannot exonerate
    }

  override def dropPartition(id: InternalRow): Boolean = {
    val want = rawOf(id)
    val fs0 = firstStr
    var dropped = false
    ManifestSink.publishRebase(conf, path, tableSchema, history = true,
      rebase = head => {
        val straddlers = head.filter(m =>
          MetaTables.singleValue(m, field.name, fs0).isEmpty &&
            mayHold(m, want))
        require(straddlers.isEmpty,
          s"DROP PARTITION (${field.name} = $want): ${straddlers.size} " +
            "pre-layout part(s) may still hold the value — CALL " +
            "system.compact to migrate the layout first")
        val (hit, keep) = head.partition(m =>
          MetaTables.singleValue(m, field.name, fs0).contains(want))
        dropped = dropped || hit.nonEmpty
        keep
      },
      strictBase = None, op = "drop-partition")
    dropped
  }

  override def createPartition(id: InternalRow,
      props: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "split partitions are derived from data — INSERT rows carrying " +
        "the new value instead")
  override def replacePartitionMetadata(id: InternalRow,
      props: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "split partitions carry no mutable metadata")
  override def loadPartitionMetadata(id: InternalRow)
      : util.Map[String, String] =
    java.util.Collections.emptyMap[String, String]()
}

/** HIDDEN TIME-TRANSFORM tables (`PARTITIONED BY (days(ts))` /
  * `(hours(ts))`, [[TimeSplit]]) with the partition-management
  * surface in the DERIVED domain: `SHOW PARTITIONS` lists the
  * distinct day (DATE) / hour (epoch-hour BIGINT) ordinals whose
  * parts are PROVABLY single-ordinal (the column's micros stats fall
  * inside one ordinal, zero nulls — exact metadata, no data file
  * opened), and `ALTER TABLE t DROP PARTITION (<col>_day = DATE
  * '...')` is the same metadata-only snapshot delete the identity
  * split serves. Mixed-generation safety: a pre-layout part that may
  * still intersect the ordinal (straddling or stat-less) REFUSES the
  * drop and names the fix (compact migrates the layout). The user
  * never maintains a date column — the partition value is DERIVED
  * from the timestamp, so a query on `ts` itself prunes (hidden
  * partitioning, the failure mode Hive's string date columns had). */
private[sources] class GraftTimeSplitCatalogTable(
    ident: Identifier, path: String, tableSchema: StructType,
    splitCol: String, transform: String, writeOrder: Option[String],
    tableProps: Map[String, String])
    extends GraftCatalogTable(ident, path, tableSchema,
      Some((0, splitCol)), writeOrder, tableProps)
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {

  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  override protected def splitTransform: Option[String] = Some(transform)

  private def conf = ManifestSink.driverConf()
  private val isDays = transform == TimeSplit.Days
  private def partCol: String =
    if (isDays) s"${splitCol}_day" else s"${splitCol}_hour"

  /** days → `<col>_day DATE` (epoch day IS the DATE's internal
    * value), hours → `<col>_hour BIGINT` (UTC epoch-hour ordinal). */
  override def partitionSchema(): StructType =
    StructType(Seq(StructField(partCol,
      if (isDays) org.apache.spark.sql.types.DateType else LongType,
      nullable = false)))

  private def wantOf(id: InternalRow): Long =
    if (isDays) id.getInt(0).toLong else id.getLong(0)

  private def toRow(d: Long): InternalRow =
    if (isDays) new GenericInternalRow(Array[Any](d.toInt))
    else new GenericInternalRow(Array[Any](d))

  private def partOrd(m: PartMeta): Option[Long] =
    TimeSplit.partOrdinal(m.cstats.get(splitCol), m.rows, transform)

  override def listPartitionIdentifiers(names: Array[String],
      id: InternalRow): Array[InternalRow] = {
    val vals = ManifestSink.readManifestMeta(conf, path, None)
      .filter(_.rows > 0).flatMap(partOrd(_)).distinct.sorted
    val filtered =
      if (names.isEmpty) vals
      else {
        require(names.length == 1 && names(0).equalsIgnoreCase(partCol),
          s"unknown partition column(s) ${names.mkString(", ")} — the " +
            s"$transform layout partitions by '$partCol' only")
        val want = wantOf(id)
        vals.filter(_ == want)
      }
    filtered.map(toRow).toArray
  }

  override def dropPartition(id: InternalRow): Boolean = {
    val want = wantOf(id)
    var dropped = false
    ManifestSink.publishRebase(conf, path, tableSchema, history = true,
      rebase = head => {
        val straddlers = head.filter(m => m.rows > 0 &&
          partOrd(m).isEmpty && TimeSplit.mayHoldOrdinal(
            m.cstats.get(splitCol), m.rows, want, transform))
        require(straddlers.isEmpty,
          s"DROP PARTITION ($partCol = $want): ${straddlers.size} " +
            "pre-layout part(s) may still hold the ordinal — CALL " +
            "system.compact to migrate the layout first")
        val (hit, keep) = head.partition(m => partOrd(m).contains(want))
        dropped = dropped || hit.nonEmpty
        keep
      },
      strictBase = None, op = "drop-partition")
    dropped
  }

  override def createPartition(id: InternalRow,
      props: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "time-split partitions are derived from data — INSERT rows " +
        "carrying timestamps in the new ordinal instead")
  override def replacePartitionMetadata(id: InternalRow,
      props: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "time-split partitions carry no mutable metadata")
  override def loadPartitionMetadata(id: InternalRow)
      : util.Map[String, String] =
    java.util.Collections.emptyMap[String, String]()
}

/** Per-part manifest metadata as a TABLE (`SELECT ... FROM
  * cat.ns.t.files` — the Iceberg `.files` analog): one row per data
  * part of the head snapshot with its manifest stats — physical and
  * mask-aware visible row counts, key range, deletion-vector state,
  * bytes. What an operator actually asks a table format ("which
  * parts carry vectors?", "how skewed is the layout?") answered with
  * ZERO data files opened: the rows come straight off the head
  * manifest through a [[LocalRowsScan]]. */
private[sources] class ManifestFilesTable(path: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read.{Scan, ScanBuilder => SB}
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  // key_sum: the part's exact key-column sum (NULL = untracked legacy
  // part or a per-part Long overflow) — the stat behind metadata-only
  // SUM pushdown, surfaced for layout audits like the rest. New stat
  // columns APPEND at the end of this schema: ordinal consumers of
  // the audit view must never see earlier columns shift (the view is
  // also name-addressed, but position stability costs nothing)
  // split_value: on an identity-partitioned table, the single value
  // this part holds on the split column (NULL on non-split tables or
  // a legacy/straddling part) — the Iceberg `.files.partition` analog,
  // the audit answer to "which value does each file own?"
  // is_sorted appended at the schema END (the only additive-safe
  // slot): the part's key-sortedness flag — the WRITE ORDERED BY /
  // compaction layout audit (q_write_ordered folds it)
  private val filesSchema = StructType.fromDDL(
    "part INT, file STRING, n_rows BIGINT, visible_rows BIGINT, " +
      "key_min BIGINT, key_max BIGINT, " +
      "has_dv BOOLEAN, dv_count BIGINT, " +
      "bytes BIGINT, bucket INT, col_stats STRING, key_sum BIGINT, " +
      "split_value STRING, eq_clauses INT, is_sorted BOOLEAN")

  override def name(): String = s"manifest($path).files"
  override def schema(): StructType = filesSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): SB =
    new SB {
      override def build(): Scan = {
        // split column of the identity layout, if this table has one:
        // a part's split_value is its PROVABLY single value (stats
        // min == max, zero nulls) — anything weaker reads as NULL
        val conf = ManifestSink.driverConf()
        val splitCol = ManifestSink.readTableSpec(conf, path)
          .collect { case (0, c) => c }
        val firstStr = ManifestSink.readSchema(conf, path, None)
          .flatMap(_.fields.find(_.dataType ==
            org.apache.spark.sql.types.StringType).map(_.name))
        val rows = ManifestSink.readManifestMeta(conf, path, None)
          .zipWithIndex.map { case (m, i) =>
            val sv = splitCol
              .flatMap(c => MetaTables.singleValue(m, c, firstStr))
              .map(UTF8String.fromString).orNull
            // the generalized per-column record, rendered name-sorted
            // ("c:[min..max] …") so the view is deterministic
            // visible_rows is NULL (unknown) while equality-delete
            // clauses are pending — honesty over an over-estimate in
            // an audit view
            new GenericInternalRow(Array[Any](i,
              UTF8String.fromString(new Path(m.path).getName), m.rows,
              if (m.countsExact) m.visibleRows else null,
              m.kMin, m.kMax, m.hasDv, m.dvCount,
              m.bytes, m.bucket,
              UTF8String.fromString(m.cstats.toSeq.sortBy(_._1)
                .map { case (c, st) => s"$c:[${st.min}..${st.max}]" }
                .mkString(" ")),
              m.kSum.map(java.lang.Long.valueOf).orNull,
              sv, m.eq.size,
              m.sorted)): org.apache.spark.sql.catalyst.InternalRow
          }.toArray
        new LocalRowsScan(filesSchema, rows)
      }
    }
}

/** Shared metadata-table helpers. */
private[sources] object MetaTables {
  /** The part's PROVABLY single value on column `c` (min == max, zero
    * nulls), or None. The first string column's stats live in the
    * part's primary sMin/sMax legs (the writer tracks additional
    * strings in `cstats`), so both stores are consulted. */
  def singleValue(m: PartMeta, c: String,
      firstStr: Option[String]): Option[String] =
    m.cstats.get(c).filter(st => st.min == st.max && st.nulls == 0L)
      .map(_.min)
      .orElse {
        if (!firstStr.contains(c)) None
        else (m.sMin, m.sMax) match {
          case (Some(a), Some(b)) if a == b && m.sNulls == 0L => Some(a)
          case _ => None
        }
      }
}

/** Per-PARTITION rollup of the head snapshot as a TABLE (`SELECT ...
  * FROM cat.ns.t.partitions` — the Iceberg `.partitions` analog): one
  * row per layout value — a bucket id, an identity-split value, or
  * the NULL/"none" row for unpartitioned-generation parts — with its
  * part count, physical and VISIBLE row counts, bytes, key range and
  * merge-on-read debt. Pure manifest metadata (one driver-side
  * manifest read, no data file opened): the capacity-planning view —
  * "which partition is skewed, which carries deletion debt, which
  * does a query on value v touch" — costs O(parts) metadata at any
  * table size. Under layout EVOLUTION the `spec` column separates
  * generations (mixed bucket(4)/bucket(8)/none rows coexist until
  * compaction migrates), so the migration's progress is itself
  * queryable. */
private[sources] class ManifestPartitionsTable(path: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read.{Scan, ScanBuilder => SB}
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  private val partitionsSchema = StructType.fromDDL(
    "partition STRING, spec STRING, parts INT, n_rows BIGINT, " +
      "visible_rows BIGINT, bytes BIGINT, key_min BIGINT, " +
      "key_max BIGINT, dv_parts INT, eq_parts INT")

  override def name(): String = s"manifest($path).partitions"
  override def schema(): StructType = partitionsSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): SB =
    new SB {
      override def build(): Scan = {
        val conf = ManifestSink.driverConf()
        val splitCol = ManifestSink.readTableSpec(conf, path)
          .collect { case (0, c) => c }
        val firstStr = ManifestSink.readSchema(conf, path, None)
          .flatMap(_.fields.find(_.dataType ==
            org.apache.spark.sql.types.StringType).map(_.name))
        val metas = ManifestSink.readManifestMeta(conf, path, None)
        // a part's partition identity: its recorded bucket, or its
        // PROVABLY single split value (stats min == max, zero nulls
        // — the same soundness rule `.files.split_value` uses), or
        // the unpartitioned-generation row
        def ident(m: PartMeta): (String, String) =
          if (m.nbuckets > 0)
            (s"bucket=${m.bucket}", s"bucket(${m.nbuckets})")
          else splitCol.flatMap(c =>
              MetaTables.singleValue(m, c, firstStr)
                .map(v => (s"$c=$v", s"identity($c)")))
            .getOrElse((null, "none"))
        val rows = metas.groupBy(ident).toSeq
          .sortBy { case ((p, s), _) => (s, Option(p).getOrElse("")) }
          .map { case ((part, spec), ms) =>
            // visible_rows goes NULL (unknown) as soon as one part of
            // the partition carries a pending equality-delete clause
            new GenericInternalRow(Array[Any](
              Option(part).map(UTF8String.fromString).orNull,
              UTF8String.fromString(spec), ms.size,
              ms.map(_.rows).sum,
              if (ms.forall(_.countsExact)) ms.map(_.visibleRows).sum
              else null,
              ms.map(_.bytes).sum, ms.map(_.kMin).min,
              ms.map(_.kMax).max,
              ms.count(_.hasDv),
              ms.count(_.eq.nonEmpty))): org.apache.spark.sql.catalyst.InternalRow
          }.toArray
        new LocalRowsScan(partitionsSchema, rows)
      }
    }
}

/** Branch heads as a TABLE (`SELECT ... FROM cat.ns.t.branches`):
  * one row per live branch with its head version and the staged
  * snapshot's part/visible-row counts — the audit-side "what is
  * waiting to publish" view of write-audit-publish, again pure
  * manifest metadata through a [[LocalRowsScan]]. */
private[sources] class ManifestBranchesTable(path: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read.{Scan, ScanBuilder => SB}
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  private val branchesSchema = StructType.fromDDL(
    "branch STRING, head_version INT, n_parts BIGINT, n_rows BIGINT")

  override def name(): String = s"manifest($path).branches"
  override def schema(): StructType = branchesSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): SB =
    new SB {
      override def build(): Scan = {
        val conf = ManifestSink.driverConf()
        val rows = ManifestSink.listBranches(conf, path).sorted.map { b =>
          val head = ManifestSink.listBranchVersions(conf, path, b).last
          val parts = ManifestSink.readBranchMeta(conf, path, b, Some(head))
          new GenericInternalRow(Array[Any](UTF8String.fromString(b),
            head, parts.size.toLong, parts.map(_.visibleRows).sum)):
            org.apache.spark.sql.catalyst.InternalRow
        }.toArray
        new LocalRowsScan(branchesSchema, rows)
      }
    }
}

/** ALL NAMED REFS in one relation (`SELECT * FROM cat.ns.t.refs` —
  * Iceberg's `.refs`): branches (mutable heads, each the staged line
  * of a write-audit-publish) and tags (immutable expiry-pinned
  * snapshots) side by side — the one audit view answering "what
  * names does this table resolve, and to which version?". `main` is
  * listed explicitly with the head version so the view is total.
  * Pure driver metadata: a directory listing plus KB-sized version
  * headers at any table size. */
private[sources] class ManifestRefsTable(path: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read.{Scan, ScanBuilder => SB}
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  private val refsSchema = StructType.fromDDL(
    "name STRING, type STRING, version INT")

  override def name(): String = s"manifest($path).refs"
  override def schema(): StructType = refsSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): SB =
    new SB {
      override def build(): Scan = {
        val conf = ManifestSink.driverConf()
        val main = ManifestSink.listVersions(conf, path).lastOption
          .map(v => ("main", "branch", v)).toSeq
        val branches = ManifestSink.listBranches(conf, path).map(b =>
          (b, "branch",
            ManifestSink.listBranchVersions(conf, path, b).last))
        val tags = ManifestSink.listTags(conf, path).map {
          case (t, v) => (t, "tag", v)
        }
        val rows = (main ++ branches ++ tags)
          .sortBy { case (n, t, _) => (t, n) }
          .map { case (n, t, v) =>
            new GenericInternalRow(Array[Any](UTF8String.fromString(n),
              UTF8String.fromString(t), v)):
              org.apache.spark.sql.catalyst.InternalRow
          }.toArray
        new LocalRowsScan(refsSchema, rows)
      }
    }
}

/** The catalog face of [[graft.functions.GraftBucket]] — what Spark's
  * V2ExpressionUtils resolves the scan-reported `bucket(n, key)`
  * transform through when it validates storage-partitioned join
  * compatibility (both sides resolve to THIS bound function, equal
  * `canonicalName`, hence provably the same partitioning). Also
  * callable directly: `SELECT cat.ns.bucket(8, k)`. */
private[sources] object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, key): storage bucket ordinal of a BIGINT key " +
      "(splitmix64 then floor-mod; NULL keys -> bucket 0)"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2 &&
      inputType.fields(0).dataType == org.apache.spark.sql.types.IntegerType &&
      inputType.fields(1).dataType == LongType,
      s"bucket takes (INT numBuckets, BIGINT key), got ${inputType.simpleString}")
    new ScalarFunction[java.lang.Integer] {
      override def inputTypes(): Array[DataType] =
        Array(org.apache.spark.sql.types.IntegerType, LongType)
      override def resultType(): DataType =
        org.apache.spark.sql.types.IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): java.lang.Integer =
        java.lang.Integer.valueOf(
          if (input.isNullAt(1)) 0
          else graft.functions.GraftBucket.id(input.getLong(1), input.getInt(0)))
    }
  }
}

/** The catalog face of the days()/hours() HIDDEN-PARTITIONING
  * transforms ([[TimeSplit]]): Spark resolves a clustered write
  * distribution's `days(ts)` through this FunctionCatalog, so the
  * ingest exchange co-locates each UTC day's (hour's) rows in one
  * task and the split writer commits one single-ordinal part per
  * ordinal per write — the Iceberg hidden-partition write shape.
  * Deterministic pure arithmetic (floorDiv of the internal micros),
  * identical to the writer's routing and the DDL faces' derivation,
  * so plan-time, write-time and metadata views can never disagree. */
private[sources] class GraftTimeOrdinalFunction(transform: String)
    extends UnboundFunction {
  override def name(): String = transform
  override def description(): String =
    s"$transform(ts): UTC epoch-$transform ordinal of a TIMESTAMP " +
      "(floorDiv of micros; NULL in -> NULL out)"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1 &&
      inputType.fields(0).dataType ==
        org.apache.spark.sql.types.TimestampType,
      s"$transform takes (TIMESTAMP), got ${inputType.simpleString}")
    val unit = TimeSplit.unit(transform)
    val tname = transform
    new ScalarFunction[java.lang.Long] {
      override def inputTypes(): Array[DataType] =
        Array(org.apache.spark.sql.types.TimestampType)
      override def resultType(): DataType = LongType
      override def name(): String = tname
      override def canonicalName(): String = s"graft.$tname"
      override def isResultNullable: Boolean = true
      override def produceResult(input: InternalRow): java.lang.Long =
        if (input.isNullAt(0)) null
        else java.lang.Long.valueOf(Math.floorDiv(input.getLong(0), unit))
    }
  }
}

private[sources] object GraftTimeOrdinalFunction {
  val Days = new GraftTimeOrdinalFunction(TimeSplit.Days)
  val Hours = new GraftTimeOrdinalFunction(TimeSplit.Hours)
}

/** The column-mapping ledger as a TABLE (`SELECT ... FROM
  * cat.ns.t.columns`): one row per LIVE column (position, name, type,
  * stable field id, whether it serves key or string stats) plus one
  * per RETIRED name (dropped or renamed-away — unreusable forever).
  * This is how an operator audits schema evolution: "which physical
  * column does this name bind to, and which names are burned" —
  * answered from the head manifest, zero data files. */
private[sources] class ManifestColumnsTable(path: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read.{Scan, ScanBuilder => SB}
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  private val columnsSchema = StructType.fromDDL(
    "position INT, name STRING, type STRING, field_id INT, " +
      "stats_role STRING, retired BOOLEAN")

  override def name(): String = s"manifest($path).columns"
  override def schema(): StructType = columnsSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): SB =
    new SB {
      override def build(): Scan = {
        val conf = ManifestSink.driverConf()
        val (schema, cm) = ManifestSink.readSchemaAndColMap(conf, path)
          .getOrElse(throw new IllegalStateException(
            s"no committed schema at $path"))
        val keyIdx = schema.fields.indexWhere(_.dataType == LongType)
        val strIdx = schema.fields.indexWhere(_.dataType == StringType)
        val live = schema.fields.zipWithIndex.map { case (f, i) =>
          val role =
            if (i == keyIdx) "key"
            else if (i == strIdx) "string"
            else if (f.dataType == LongType || f.dataType == StringType)
              "column" // tracked via ColStat when within the writer cap
            else ""
          new GenericInternalRow(Array[Any](i,
            UTF8String.fromString(f.name),
            UTF8String.fromString(f.dataType.simpleString),
            cm.ids(i), UTF8String.fromString(role), false)):
            org.apache.spark.sql.catalyst.InternalRow
        }
        val retired = cm.retired.sorted.map { n =>
          new GenericInternalRow(Array[Any](null,
            UTF8String.fromString(n), null, null,
            UTF8String.fromString(""), true)):
            org.apache.spark.sql.catalyst.InternalRow
        }
        new LocalRowsScan(columnsSchema, (live ++ retired).toArray)
      }
    }
}

/** Tags as a TABLE (`SELECT ... FROM cat.ns.t.tags`): one row per
  * immutable named ref with its pinned version and that snapshot's
  * visible row count — "what releases exist and what do they hold",
  * answered from manifest metadata through a [[LocalRowsScan]]. */
private[sources] class ManifestTagsTable(path: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read.{Scan, ScanBuilder => SB}
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  private val tagsSchema = StructType.fromDDL(
    "name STRING, version INT, n_rows BIGINT")

  override def name(): String = s"manifest($path).tags"
  override def schema(): StructType = tagsSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): SB =
    new SB {
      override def build(): Scan = {
        val conf = ManifestSink.driverConf()
        val rows = ManifestSink.listTags(conf, path).map { case (n, v) =>
          val parts = ManifestSink.readManifestMeta(conf, path, Some(v))
          new GenericInternalRow(Array[Any](UTF8String.fromString(n), v,
            parts.map(_.visibleRows).sum)):
            org.apache.spark.sql.catalyst.InternalRow
        }.toArray
        new LocalRowsScan(tagsSchema, rows)
      }
    }
}
