package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.VersionedTable

/** PATH catalog for the versioned format — the piece that puts the
  * table layer behind plain SQL names with TIME TRAVEL syntax
  * (Delta's `delta.`/path``): register once with
  * `spark.sql.catalog.graft = graft.sources.GraftCatalog` and every
  * versioned table is addressable as
  *
  * {{{
  *   SELECT * FROM graft.`/data/events`                    -- latest
  *   SELECT * FROM graft.`/data/events` VERSION AS OF 3
  *   SELECT * FROM graft.`/data/events` TIMESTAMP AS OF '…'
  *   INSERT INTO graft.`/data/events` SELECT …             -- commit protocol
  *   CREATE TABLE graft.`/new/t` AS SELECT …               -- CTAS
  * }}}
  *
  * The identifier's name IS the filesystem path (no metastore — the
  * commit log under the path is the table's own catalog entry, so the
  * "catalog" is stateless and needs no coordination at any fleet
  * size). Reads resolve through the same pushdown-wired
  * [[GraftTable]] the `graft` format serves; writes run the V1Write
  * commit-protocol shim. DROP deletes the table directory. */
class GraftCatalog extends TableCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    GraftDataSource.normalizePath(
      (ident.namespace() :+ ident.name()).mkString("/"))

  private def require_exists(ident: Identifier): String = {
    val p = pathOf(ident)
    if (VersionedTable.versions(p).isEmpty)
      throw new NoSuchTableException(ident)
    p
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // path catalog: tables are not enumerable

  override def tableExists(ident: Identifier): Boolean =
    VersionedTable.versions(pathOf(ident)).nonEmpty

  override def loadTable(ident: Identifier): Table = {
    val p = pathOf(ident)
    new GraftTable(p, Some(VersionedTable.latestSnapshot(p)
      .getOrElse(throw new NoSuchTableException(ident))))
  }

  /** `VERSION AS OF` — the version string is the commit number. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = require_exists(ident)
    new GraftTable(p, Some(VersionedTable.snapshot(p,
      Some(version.trim.toInt))))
  }

  /** `TIMESTAMP AS OF` — micros since epoch (Spark's contract). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = require_exists(ident)
    val ts = java.time.Instant.EPOCH.plusNanos(timestamp * 1000L)
    val v = VersionedTable.versionAt(p, ts).getOrElse(
      throw new IllegalArgumentException(
        s"no version committed at or before $ts at $p"))
    new GraftTable(p, Some(VersionedTable.snapshot(p, Some(v))))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    // PARTITIONED BY: identity transforms only — the format's layout
    // is hive-style value partitioning; bucket/temporal transforms
    // would silently degrade to nothing, so they fail loudly
    val partitionBy = partitions.toSeq.map { t =>
      if (t.name != "identity") throw new UnsupportedOperationException(
        s"graft catalog: unsupported partition transform $t — " +
          "only PARTITIONED BY (col, …) identity partitioning")
      t.references match {
        case Array(r) => r.fieldNames match {
          case Array(one) => one
          case other => throw new UnsupportedOperationException(
            "graft catalog: PARTITIONED BY supports top-level columns " +
              s"only, got ${other.mkString(".")}")
        }
        case _ => throw new UnsupportedOperationException(
          s"graft catalog: unsupported partition transform $t")
      }
    }
    partitionBy.foreach(c => require(schema.fieldNames.contains(c),
      s"graft catalog: partition column $c not in the table schema"))
    // USER properties ride the creation (Spark injects bookkeeping
    // keys like provider/owner/location — those are not table state)
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_LOCATION, TableCatalog.PROP_COMMENT,
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_IS_MANAGED_LOCATION)
    val user = {
      import scala.jdk.CollectionConverters._
      properties.asScala.filterNot { case (k, _) =>
        reserved.contains(k) || k.startsWith("option.") }.toMap
    }
    // creation is EAGER (r13): an empty metadata v0 carrying schema +
    // user properties commits immediately, so plain `CREATE TABLE`
    // followed by `INSERT INTO` works (pre-r13 lazy creation made
    // loadTable fail until the first write). The CTAS exec then
    // writes through the V1 shim, which sees the empty DDL table and
    // lays the first data commit out under the declared partitioning.
    val p = pathOf(ident)
    VersionedTable.create(p, schema, user)
    new GraftTable(p, Some(VersionedTable.snapshot(p, Some(0))),
      ctasPartitionBy = partitionBy)
  }

  /** `ALTER TABLE` through SQL (r13): property, rename, add and drop
    * column changes map onto the format's metadata-commit verbs —
    * each lands as its own commit, exactly like running the Scala
    * API. Top-level columns only (the format has no nested-field
    * evolution); anything else fails loudly. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val p = require_exists(ident)
    val spark = org.apache.spark.sql.SparkSession.active
    def top(fieldNames: Array[String], what: String): String =
      fieldNames match {
        case Array(one) => one
        case other => throw new UnsupportedOperationException(
          s"graft catalog: $what supports top-level columns only, " +
            s"got ${other.mkString(".")}")
      }
    changes.foreach {
      case c: TableChange.SetProperty =>
        VersionedTable.setTableProperties(p,
          Map(c.property -> c.value))
      case c: TableChange.RemoveProperty =>
        VersionedTable.unsetTableProperty(p, c.property)
      case c: TableChange.RenameColumn =>
        VersionedTable.renameColumn(spark, p,
          top(c.fieldNames, "RENAME COLUMN"), c.newName)
      case c: TableChange.AddColumn =>
        // null-filled metadata add: re-linked files read the column
        // as null, zero rewrite (the Scala addColumn's fold-to-null
        // fast path)
        VersionedTable.addColumn(spark, p,
          top(c.fieldNames, "ADD COLUMNS"),
          s"cast(null as ${c.dataType.sql})")
      case c: TableChange.DeleteColumn =>
        VersionedTable.dropColumn(spark, p,
          top(c.fieldNames, "DROP COLUMN"))
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER TABLE change $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = pathOf(ident)
    val existed = VersionedTable.versions(p).nonEmpty
    if (existed) VersionedTable.destroy(p)
    existed
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: tables are paths — move the directory instead")
}
