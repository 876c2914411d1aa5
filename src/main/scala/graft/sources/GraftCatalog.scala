package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** SQL catalog over an arrow endpoint (the reference's SQL entry point is
  * `SELECT … FROM dd_read_arrow(url, …)`; the Spark-native equivalent is
  * a catalog so the same query reads
  * `SELECT … FROM graft.lineitem` after
  *
  * {{{
  * spark.sql.catalog.graft     = graft.sources.GraftCatalog
  * spark.sql.catalog.graft.dir = /path/to/tables
  * }}}
  *
  * Every table resolves to the same pushdown-capable
  * [[GraftArrowTable]], so projection/filter/aggregate pushdown and
  * split planning apply to SQL exactly as to the DataFrame API. */
class GraftCatalog extends TableCatalog with SupportsNamespaces {
  private var catalogName: String = _
  private var dir: String = _
  private var splitSize: Long = 128L * 1024 * 1024

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    dir = options.get("dir")
    require(dir != null, s"catalog $name requires spark.sql.catalog.$name.dir")
    splitSize = options.getLong("split_size", splitSize)
  }

  override def name(): String = catalogName

  // one per catalog, built after initialize has set dir
  private lazy val endpoint = new LocalParquetEndpoint(dir)

  // a table is a single parquet file OR a directory of part files
  // (LocalParquetEndpoint.partFiles)
  private def tableNames: Seq[String] =
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet")).toSeq.sorted

  override def listTables(namespace: Array[String]): Array[Identifier] =
    tableNames.map(t => Identifier.of(namespace, t)).toArray

  /** Names match case-insensitively unless `spark.sql.caseSensitive`
    * is set — how Spark resolves temp views and session tables. An exact
    * match wins; several case-insensitive ones are no match. */
  override def loadTable(ident: Identifier): Table = {
    val names = tableNames
    val t = (
      if (names.contains(ident.name())) Some(ident.name())
      else if (SQLConf.get.caseSensitiveAnalysis) None
      else names.filter(_.equalsIgnoreCase(ident.name())) match {
        case Seq(only) => Some(only)
        case _ => None
      }).getOrElse(
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))
    // catalog tables keep the Spark-side contract: always split-scan
    // (the reference's split=false default is the raw-OPTION default
    // only — a 1000-executor catalog read wants N partitions, not 1)
    new GraftArrowTable(endpoint, t, endpoint.schema(t), splitSize, split = true)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException("graft catalog is read-only")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("graft catalog is read-only")
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("graft catalog is read-only")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft catalog is read-only")

  // single implicit default namespace, like the reference's flat table space
  override def listNamespaces(): Array[Array[String]] = Array(Array.empty[String])
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespace.isEmpty) Map.empty[String, String].asJava
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("graft catalog is read-only")
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog is read-only")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("graft catalog is read-only")
}
