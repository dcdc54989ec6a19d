package graft.sources

import graft.xel.EventSchema.SessionMeta
import graft.xel.{EventSchema, XelFunctions}
import java.io.{BufferedOutputStream, DataOutputStream}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/**
 * XELN session-container writer: serializes a union-schema DataFrame
 * (`event_name`, `c_event_sequence`, `e_time_of_event_utc`, `c_*`/`a_*`
 * columns) into .xeln files — the multi-event-type stream shape an XE
 * session actually emits (`XELoader/FileProcessor.cs:351`). Used to
 * generate read-path inputs; the distributed variant writes one rollover
 * file per partition from the executors, so no row ever crosses the
 * driver.
 */
object XelNativeFixtures {

  /** Records per chunk — small enough that a file has several chunks, so
    * the chunk-fence error path (E3) is exercised by real layouts. */
  val chunkRecords = 256

  /** Derive ids + package map for a session's metadata (fixtures put every
    * event in one "sqlserver" package, like most real XE sessions). */
  def defaultIds(meta: SessionMeta): (Seq[String], Map[String, Int], Map[String, Int]) =
    (Seq("sqlserver"),
      meta.events.map(_.name).sorted.zipWithIndex.toMap,
      meta.events.map(e => e.name -> 0).toMap)

  private class FileWriter(path: String, meta: SessionMeta,
                           eventIds: Map[String, Int], schema: StructType) {
    private val p = new Path(path)
    private val out = new DataOutputStream(new BufferedOutputStream(
      p.getFileSystem(EventFileSource.hadoopConf).create(p, true)))
    private val (packages, ids, pkgOf) = {
      val (pk, _, po) = defaultIds(meta)
      (pk, eventIds, po)
    }
    XelNativeFormat.writeMetadata(out, packages, meta, ids, pkgOf)

    private val colIdx: Map[String, Int] =
      schema.fieldNames.zipWithIndex.map { case (n, i) =>
        n.toLowerCase(java.util.Locale.ROOT) -> i
      }.toMap
    private def idx(name: String): Int =
      colIdx.getOrElse(name.toLowerCase(java.util.Locale.ROOT), -1)
    private val seqIdx = idx("c_event_sequence")
    private val tsIdx = idx("e_time_of_event_utc")
    private val nameIdx = idx("event_name")
    require(nameIdx >= 0, "union frame must carry event_name")

    private val chunkBuf = new java.io.ByteArrayOutputStream()
    private val chunk = new DataOutputStream(chunkBuf)
    private var inChunk = 0

    private def flushChunk(): Unit = if (inChunk > 0) {
      out.writeInt(chunkBuf.size())
      chunkBuf.writeTo(out)
      chunkBuf.reset()
      inChunk = 0
    }

    def write(row: Row): Unit = {
      val eventName = row.getString(nameIdx)
      val e = meta.events.find(_.name == eventName).getOrElse(
        throw new IllegalArgumentException(s"event type $eventName not in session metadata"))
      chunk.writeShort(ids(eventName))
      chunk.writeLong(if (seqIdx >= 0 && !row.isNullAt(seqIdx)) row.getLong(seqIdx) else 0L)
      value(TimestampType,
        if (tsIdx >= 0 && !row.isNullAt(tsIdx)) row.get(tsIdx) else new java.sql.Timestamp(0L))
      e.fields.foreach { f =>
        val i = idx(XelFunctions.fieldCol(f.name))
        if (f.isMapValue && i >= 0 && !row.isNullAt(i)) {
          // columns surface the DISPLAY text; the wire stores the 2-byte
          // map key, reverse-resolved through the metadata table
          val display = row.get(i).toString
          val key = f.mapValues.collectFirst { case (k, d) if d == display => k }
            .getOrElse(throw new IllegalArgumentException(
              s"value '$display' not in map field ${f.name}'s metadata table"))
          chunk.writeByte(0); chunk.writeShort(key)
        }
        else nullable(row, EventSchema.sparkType(f.clrType), i)
      }
      meta.actions.foreach(a =>
        nullable(row, EventSchema.sparkType(a.clrType), idx(XelFunctions.actionCol(a.name))))
      inChunk += 1
      if (inChunk >= chunkRecords) flushChunk()
    }

    /** An external (`Row`) value, converted as the `.xelb` `Row` writer does. */
    private def value(dt: DataType, v: Any): Unit =
      XelbFormat.writeValue(chunk, dt, XelbFormat.toInternal(dt, v))

    /** Column `i`'s null flag, then its value; a column the frame lacks
      * (`i` −1) is null. */
    private def nullable(row: Row, dt: DataType, i: Int): Unit =
      if (i < 0 || row.isNullAt(i)) chunk.writeByte(1)
      else { chunk.writeByte(0); value(dt, row.get(i)) }

    def close(): Unit = { flushChunk(); out.close() }
  }

  /** Distributed writer: one .xeln rollover file per non-empty partition,
    * written by the executor that holds the rows — repartition by the
    * rollover key first to get file-per-source-file layout. The target
    * directory must be pre-wiped (fixture generation, not a committed
    * production write — the committed path is the XELB DSv2 writer). */
  def writeDistributed(df: DataFrame, meta: SessionMeta, dir: String,
                       sessionName: String = "GraftSession"): Unit = {
    val schema = df.schema
    val (_, ids, _) = defaultIds(meta)
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val w = new FileWriter(f"$dir/${sessionName}_$pid%05d_0.xeln", meta, ids, schema)
        try rows.foreach(w.write) finally w.close()
      }
    }
  }

  /** Driver-side writer for unit-test fixtures: one file per distinct
    * value of `keyCol`, rows in input order. */
  def writeByKey(df: DataFrame, meta: SessionMeta, keyCol: String, dir: String,
                 sessionName: String = "GraftSession"): Seq[String] = {
    val (_, ids, _) = defaultIds(meta)
    val schema = StructType(df.schema.fields.filter(_.name != keyCol))
    val keyIdx = df.schema.fieldIndex(keyCol)
    XelbFixtures.guardRows(df, "XelNativeFixtures")
    val grouped = df.collect().groupBy(_.get(keyIdx))
    grouped.toSeq.sortBy(_._1.toString).map { case (key, rs) =>
      val path = s"$dir/${sessionName}_${key}_0.xeln"
      val w = new FileWriter(path, meta, ids, schema)
      try rs.foreach { r =>
        w.write(Row.fromSeq(r.toSeq.zipWithIndex.collect {
          case (v, i) if i != keyIdx => v
        }))
      } finally w.close()
      path
    }
  }
}
