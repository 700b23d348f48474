package graft.streaming

import graft.olist.Warehouse
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming read half of the warehouse CDC loop — the
  * continuous rendering of the reference's SSIS incremental flow
  * (`Package.dtsx:123-280`), paired with `streamMergeInto`/`streamInto`
  * (the write half).
  *
  * Offsets ARE committed table versions: `getOffset` surfaces the head
  * of the manifest log, `getBatch(from, to)` is exactly
  * [[Warehouse.tableChanges]] over the `(from, to]` window — the rows
  * whose files entered the snapshot in that window, read straight from
  * the manifest diff. No polling consumer, no extra change files; the
  * engine's offset checkpoint provides replay (a restarted query
  * re-reads only the last uncommitted window, and the window's file
  * diff is deterministic, so a foreachBatch sink with a batchId mark —
  * [[Warehouse.appendStreamBatch]] — lands every commit exactly once).
  *
  * Rewrite commits (compact/merge/delete/restore/save) refuse loudly
  * mid-stream, exactly as [[Warehouse.tableChanges]] documents: file
  * diffs cannot describe them. Start streams after the last rewrite
  * (`startingVersion`, or `"latest"` for changes-from-now).
  */
class ChangeFeedSource(wh: Warehouse, table: String,
    startingVersion: Long, tableSchema: StructType,
    rows: Boolean = false,
    maxVersionsPerTrigger: Option[Long] = None,
    metadataPath: Option[String] = None) extends Source {

  override def schema: StructType = tableSchema

  private def versionOf(o: Offset): Long = o match {
    case LongOffset(v) => v
    case so: SerializedOffset => LongOffset(so).offset
    case other => other.json.trim.toLong
  }

  /** The offer cursor must survive restarts: when the last batch was
    * COMMITTED before a restart, Spark calls getOffset with no prior
    * getBatch replay, so an in-memory-only cursor would re-base the cap
    * on startingVersion and offer an offset BELOW the engine's committed
    * one — Spark commits the regression and capped batches re-deliver
    * already-committed versions. Durable scheme: one empty marker file
    * `v<N>` per advance under the engine-provided metadataPath (the name
    * IS the value, so a torn write can't corrupt it; load takes the max,
    * so a crash between create and cleanup is harmless). Only capped
    * feeds pay the I/O — without a cap the head is always offered and
    * can't regress. */
  private def cursorDir: Option[org.apache.hadoop.fs.Path] =
    metadataPath.filter(_ => maxVersionsPerTrigger.isDefined)
      .map(p => new org.apache.hadoop.fs.Path(p, "graft-offer"))

  private def cursorFs(d: org.apache.hadoop.fs.Path) =
    d.getFileSystem(wh.spark.sparkContext.hadoopConfiguration)

  private def loadCursor(): Long = cursorDir.flatMap { d =>
    val fs = cursorFs(d)
    if (!fs.exists(d)) None
    else fs.listStatus(d).toSeq
      .flatMap(s => s.getPath.getName.stripPrefix("v").toLongOption)
      .maxOption
  }.getOrElse(startingVersion)

  private def persistCursor(v: Long): Unit = cursorDir.foreach { d =>
    val fs = cursorFs(d)
    fs.mkdirs(d)
    fs.create(new org.apache.hadoop.fs.Path(d, s"v$v"), true).close()
    fs.listStatus(d).foreach { s =>
      if (s.getPath.getName.stripPrefix("v").toLongOption.exists(_ < v))
        fs.delete(s.getPath, false)
    }
  }

  /** Last offset this source has published — the rate-limit cursor.
    * Spark's planner calls getOffset before committing the previous
    * batch, so the cap must advance from what WE last offered, not
    * from the engine's committed offset (which trails by one batch).
    * Seeded from the durable marker on (re)construction. */
  @volatile private var lastOffered: Long = loadCursor()

  override def getOffset: Option[Offset] = {
    val head = wh.tableVersions(table).lastOption.getOrElse(0L)
    // backfill rate limit: a fresh subscriber of a long history gets
    // maxVersionsPerTrigger commits per micro-batch instead of the
    // whole log in one giant batch — the streaming-source admission
    // control every production CDC source ships
    val capped = maxVersionsPerTrigger match {
      case Some(m) => math.min(head, math.max(lastOffered, startingVersion) + m)
      case None => head
    }
    if (capped <= startingVersion) None
    else {
      if (capped > lastOffered) { lastOffered = capped; persistCursor(capped) }
      Some(LongOffset(capped))
    }
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(versionOf).getOrElse(startingVersion)
    val to = versionOf(end)
    // restart recovery replays the last uncommitted window via
    // getBatch before any getOffset call — advance the rate-limit
    // cursor so the next offer never moves backward past it
    if (to > lastOffered) { lastOffered = to; persistCursor(to) }
    org.apache.spark.sql.graft.StreamingBridge.asStreaming(
      if (rows) wh.tableChangesRows(table, from, to)
      else wh.tableChanges(table, from, to))
  }

  override def stop(): Unit = ()
}

/** `spark.readStream.format("graft-changes")` provider. Options:
  *  - `path`  (required): the warehouse basePath
  *  - `table` (required): the table name
  *  - `startingVersion` (default 0): exclusive version to start after —
  *    0 replays the full append history as the initial batch; `latest`
  *    resolves to the head at query start (changes-from-now)
  *  - `format` (default parquet): the warehouse's data file format
  *  - `mode` (default `files`): `files` = append-only file-diff feed
  *    (refuses rewrites); `rows` = the ROW-level feed — each batch is
  *    `tableChangesRows` over its version window, so inserts AND the
  *    pre/post images of deletes, updates, and merges stream through
  *    with a `_change_type` column, and only unrecorded rewrites
  *    (overwrite/restore/save-over) refuse. The full CDC read half.
  *  - `maxVersionsPerTrigger` (default unlimited): backfill admission
  *    control — at most this many commits per micro-batch, so a fresh
  *    subscriber of a long history drains it in bounded batches
  *    instead of one giant initial batch. Use a RUNNING trigger
  *    (ProcessingTime) to drain a backlog under this cap:
  *    `Trigger.AvailableNow` takes its end target from the first
  *    offer, so it stops after one capped batch (the v1 Source API
  *    has no admission-control handshake).
  */
class ChangeFeedProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-changes"

  private def resolve(sqlContext: SQLContext,
      parameters: Map[String, String])
      : (Warehouse, String, Long, Boolean, Option[Long]) = {
    val base = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-changes needs option 'path' (the warehouse basePath)"))
    val table = parameters.getOrElse("table", throw new IllegalArgumentException(
      "graft-changes needs option 'table'"))
    val wh = new Warehouse(sqlContext.sparkSession, base,
      format = parameters.getOrElse("format", "parquet"))
    val start = parameters.getOrElse("startingVersion", "0") match {
      case "latest" => wh.tableVersions(table).lastOption.getOrElse(0L)
      case n => n.toLong
    }
    val rows = parameters.getOrElse("mode", "files") match {
      case "files" => false
      case "rows" => true
      case other => throw new IllegalArgumentException(
        s"graft-changes: unknown mode '$other' (files | rows)")
    }
    val maxPerTrigger = parameters.get("maxVersionsPerTrigger").map { m =>
      val v = m.toLong
      require(v >= 1, s"graft-changes: maxVersionsPerTrigger must be >= 1, got $v")
      v
    }
    (wh, table, start, rows, maxPerTrigger)
  }

  private def feedSchema(wh: Warehouse, table: String,
      declared: Option[StructType], rows: Boolean): StructType = {
    val sc = declared.getOrElse {
      val base = wh.table(table).schema
      if (rows) base.add("_change_type", org.apache.spark.sql.types.StringType)
      else base
    }
    require(sc.nonEmpty, s"graft-changes: table $table has no committed schema")
    sc
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val (wh, table, _, rows, _) = resolve(sqlContext, parameters)
    (shortName(), feedSchema(wh, table, schema, rows))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val (wh, table, start, rows, maxPerTrigger) = resolve(sqlContext, parameters)
    new ChangeFeedSource(wh, table, start,
      feedSchema(wh, table, schema, rows), rows, maxPerTrigger,
      Option(metadataPath).filter(_.nonEmpty))
  }
}
