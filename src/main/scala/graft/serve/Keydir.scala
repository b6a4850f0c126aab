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
  * ref: BitCask.java:119-180). It is the latest fork's only state: each
  * micro-batch's per-station winners merge into it by event time
  * ([[publish]]), and no state store keeps a second copy. The schema must
  * hold `station_id` (the key) and `status_timestamp` and `s_no` (the
  * order).
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
  private val tsIndex = schema.fieldIndex("status_timestamp")
  private val sNoIndex = schema.fieldIndex("s_no")
  private val current = new AtomicReference(Version(-1L, Map.empty, schema))

  def version: Version = current.get

  def get(stationId: Long): Option[Row] = current.get.rows.get(stationId)

  /** Merge `rows` over the current map and publish the result as batch
    * `batchId`. A row replaces its station's row only when its
    * `(status_timestamp, s_no)` is strictly greater: a late reading never
    * wins, a tie keeps the served row, and merging rows already merged
    * (a re-executed batch) leaves the current version in place. Rows with
    * a null station id are dropped.
    */
  def publish(batchId: Long, rows: Iterable[Row]): Unit =
    current.updateAndGet { v =>
      val merged = rows.foldLeft(v.rows) { (m, r) =>
        if (r.isNullAt(keyIndex)) m
        else {
          val k = r.get(keyIndex).asInstanceOf[Number].longValue
          if (m.get(k).forall(newer(r, _))) m.updated(k, r) else m
        }
      }
      val id = math.max(v.batchId, batchId)
      if ((merged eq v.rows) && id == v.batchId) v else Version(id, merged, schema)
    }

  /** Whether `a` orders strictly after `b` on `(status_timestamp, s_no)`,
    * nulls first, as the batch `max_by` orders them.
    */
  private def newer(a: Row, b: Row): Boolean = {
    val ts = Keydir.compare(a.get(tsIndex), b.get(tsIndex))
    ts > 0 || (ts == 0 && Keydir.compare(a.get(sNoIndex), b.get(sNoIndex)) > 0)
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

  /** A keydir holding `df`'s rows, collected once and merged by the
    * [[Keydir.publish]] rule: of a station's rows, the greatest
    * `(status_timestamp, s_no)` is served.
    */
  def collect(df: DataFrame, name: String): Keydir = {
    val k = new Keydir(name, df.schema)
    k.publish(0L, df.collect())
    k
  }

  private def compare(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Comparable[Any @unchecked], y) => x.compareTo(y)
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
