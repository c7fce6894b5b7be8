package graft.fred.io

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** H4 — the dedup-append "sheet" sink.
  *
  * The reference's `sync_s3_to_google_sheet`
  * (`load_fred_data_to_google.py:65-135`) reads the sheet's current
  * rows, drops incoming rows whose natural key is already present, and
  * appends the remainder. The sheet API itself cannot exist in this
  * environment, so — like [[FredSource]] — the sink is a trait with an
  * in-memory fake; a real Sheets client implements ONLY the trait.
  *
  * A sheet is a driver-side, bounded serving surface (the reference
  * appends via a row-loop over a client handle), so the collect here is
  * the honest shape — guarded by `maxAppendRows` so a mis-pointed lake
  * scan fails loudly instead of materializing unbounded rows on the
  * driver. The dedup runs the same way the reference's does: the
  * sheet's key set is collected into a driver-side `Set` (bounded by
  * the sheet, which is small by construction) and the incoming frame
  * is filtered against it in its own tasks — no join, no broadcast.
  */
trait SheetSink {
  /** Column shape of the sheet. */
  def schema: StructType
  /** Current sheet contents as a frame (small by construction). */
  def read(spark: SparkSession): DataFrame
  /** Append rows (already deduplicated by the caller). */
  def append(rows: Seq[Row]): Unit
}

object SheetSink {

  /** In-memory fake — the test/sandbox stand-in for a Sheets client. */
  class InMemory(val schema: StructType) extends SheetSink {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
    def read(spark: SparkSession): DataFrame = {
      val snapshot = synchronized { buf.toList }
      spark.createDataFrame(snapshot.asJava, schema)
    }
    def append(rows: Seq[Row]): Unit = synchronized { buf ++= rows }
    def size: Int = synchronized { buf.size }
  }

  /** Append-only sync: rows of `incoming` whose `keys` are absent from
    * the sheet are appended; returns the number appended. Idempotent —
    * a second sync of the same frame appends nothing
    * (`load_fred_data_to_google.py:108-131`).
    *
    * `incoming` is projected and cast to the sheet's schema, so keys
    * compare as the sheet types them. Semantics are
    * [[graft.fred.ops.DedupSync.newRows]]' `left_anti`: a key holding a
    * null never matches, so such sheet keys are left out of the set
    * and such incoming rows are always appended.
    */
  def syncAppend(incoming: DataFrame, sink: SheetSink,
      keys: Seq[String] = graft.fred.Schemas.servingKey,
      maxAppendRows: Int = 100000): Long = {
    val present: Set[Seq[Any]] = sink.read(incoming.sparkSession)
      .select(keys.map(col): _*).collect().iterator
      .map(_.toSeq).filterNot(_.contains(null)).toSet
    val projected = incoming.select(
      sink.schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
    val keyAt = keys.map(projected.schema.fieldIndex)
    val fresh = projected.filter(r => !present.contains(keyAt.map(r.get)))
    val rows = fresh.limit(maxAppendRows + 1).collect()
    require(rows.length <= maxAppendRows,
      s"refusing to append > $maxAppendRows rows to a sheet sink — " +
        "a sheet is a bounded serving surface, not a lake")
    sink.append(rows.toIndexedSeq)
    rows.length.toLong
  }
}
