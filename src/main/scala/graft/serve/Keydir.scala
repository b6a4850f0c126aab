package graft.serve

import java.util.concurrent.atomic.AtomicReference

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, View}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, ScanBuilder}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The served latest table: an immutable `station_id → row` map,
  * published whole through one `AtomicReference` (the BitCask keydir,
  * ref: BitCask.java:119-180).
  *
  * One writer publishes; any number of readers take the current
  * [[Keydir.Version]] and never see a half-applied batch. Point gets are a
  * map lookup and scans iterate the map, so neither runs a Spark job.
  * [[frame]] exposes the same map to DataFrame and SQL callers as a DSv2
  * table whose scan is a `LocalScan`: every newly planned query reads the
  * version current at its planning, as a driver-local scan with no job.
  */
final class Keydir(val name: String, val schema: StructType) {
  import Keydir.Version

  private val keyIndex = schema.fieldIndex("station_id")
  private val current = new AtomicReference(Version(-1L, Map.empty, schema))

  def version: Version = current.get

  def get(stationId: Long): Option[Row] = current.get.rows.get(stationId)

  /** Merge `rows` over the current map (a row replaces its station's) and
    * publish the result as batch `batchId`. Rows with a null station id
    * are dropped. Merging the same rows again publishes an equal map, so a
    * re-executed batch leaves readers where they were.
    */
  def publish(batchId: Long, rows: Iterable[Row]): Unit =
    current.updateAndGet { v =>
      Version(math.max(v.batchId, batchId), v.rows ++ rows.collect {
        case r if !r.isNullAt(keyIndex) =>
          r.get(keyIndex).asInstanceOf[Number].longValue -> r
      }, schema)
    }

  /** The `foreachBatch` writer: collect one micro-batch and publish it. It
    * runs inside the sink's `addBatch`, before the batch's commit-log
    * entry, so a batch whose progress event has fired is visible.
    */
  def write(batch: DataFrame, batchId: Long): Unit =
    publish(batchId, batch.collect())

  /** The map as a DataFrame; each query planned over it scans the version
    * current at its planning.
    */
  def frame(spark: SparkSession): DataFrame =
    GraftBridge.ofRows(spark, DataSourceV2Relation.create(new Keydir.KeydirTable(this), None, None))
}

object Keydir {

  /** One published map. `internalRows` is built on the first scan of this
    * version and shared by every later one.
    */
  final case class Version(batchId: Long, rows: Map[Long, Row], schema: StructType) {
    lazy val internalRows: Array[InternalRow] = {
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
      rows.values.map(r => toCatalyst(r).asInstanceOf[InternalRow]).toArray
    }
  }

  /** The keydir `df` reads, when `df` is a keydir table itself (through
    * any temp-view or alias wrappers), and not a query over one.
    */
  def of(df: DataFrame): Option[Keydir] = {
    @tailrec def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case a: SubqueryAlias => unwrap(a.child)
      case v: View => unwrap(v.child)
      case other => other
    }
    unwrap(df.queryExecution.analyzed) match {
      case r: DataSourceV2Relation => r.table match {
        case t: KeydirTable => Some(t.keydir)
        case _ => None
      }
      case _ => None
    }
  }

  /** A keydir holding `df`'s rows, collected once: one row per station is
    * expected, and of duplicates the last collected wins.
    */
  def collect(df: DataFrame, name: String): Keydir = {
    val k = new Keydir(name, df.schema)
    k.publish(0L, df.collect())
    k
  }

  private final class KeydirTable(val keydir: Keydir) extends Table with SupportsRead {
    override def name(): String = keydir.name
    override def schema(): StructType = keydir.schema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
      val v = keydir.version
      () => new KeydirScan(v)
    }
  }

  private final class KeydirScan(v: Version) extends LocalScan {
    override def readSchema(): StructType = v.schema
    override def rows(): Array[InternalRow] = v.internalRows
  }
}
