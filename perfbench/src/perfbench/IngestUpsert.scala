package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

import graft.ice.IceTable
import graft.ice.catalog.TableIdentifier
import graft.ice.expr.{Expr => E}
import graft.ice.manifest.ManifestAvro
import graft.ice.meta.{PartitionField, PartitionSpec, SortField, SortOrder}
import graft.ice.transform.{DayTransform, IdentityTransform}
import graft.ice.types.{Literal, SparkConv}

/** Continuous ingest into a day-partitioned, id-sorted table.
  *
  * A round appends one day of rows in two small appends, reads a key
  * just written after each, upserts recent keys through a merge-on-read
  * MERGE and reads one of them back, deletes the oldest day with position deletes and
  * ends with a maintenance cycle (compaction, snapshot expiry, manifest
  * rewrite, orphan removal). The table keeps a sliding window of days,
  * so rows, files, snapshots and metadata versions stay level however
  * long the run is. The benchmark keeps its own id -> row model of the
  * table and checks every read and every full scan against it. */
final class IngestUpsert(ctx: Ctx) extends Workload {
  import ctx.{checks, spark}

  private val RowsPerDay = 300
  private val AppendRows = 150
  private val WindowDays = 8
  private val Upserts = 1
  private val UpsertKeys = 60
  private val Day0 = 19000
  private val ident = TableIdentifier(Seq("bench"), "ingest")
  private val sqlName = "ice.bench.ingest"
  private val rng = new java.util.SplittableRandom(ctx.seed)

  private final case class Row(v: Long, payload: String)
  private val model = mutable.LongMap.empty[Row]
  private var nextId = 0L
  private var lowId = 0L
  private var table: IceTable = _
  private var files: DirWatch = _
  private var logicalIngested = 0L
  private var bytesCreated = 0L
  private val leakedMeta = mutable.Set.empty[String]

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("day", DateType),
    StructField("v", LongType),
    StructField("payload", StringType)))

  private def dayOf(id: Long): Int = Day0 + (id / RowsPerDay).toInt
  private def dateSql(id: Long): String = s"DATE'${LocalDate.ofEpochDay(dayOf(id).toLong)}'"
  private def logicalBytes(r: Row): Long = 8 + 4 + 8 + r.payload.length
  private def payload(): String = {
    val n = 40 + rng.nextInt(40)
    val sb = new StringBuilder(n)
    (0 until n).foreach(_ => sb += "abcdefghijklmnopqrstuvwxyz0123456789".charAt(rng.nextInt(36)))
    sb.result()
  }

  private def frame(rows: Seq[(Long, Row)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, r) => (id, dayOf(id), r.v, r.payload) }
      .toDF("id", "d", "v", "payload")
      .select(col("id"), expr("date_from_unix_date(d)").as("day"), col("v"), col("payload"))
  }

  def mainTable: IceTable = table
  def watchedDirs: Seq[String] = Seq(table.location)
  def opKinds: Seq[String] = Seq("append", "read", "upsert", "delete", "maint")

  def setup(): Unit = {
    val ice = SparkConv.fromSpark(schema)
    val idF = ice.findFieldByName("id").get.id
    val dayF = ice.findFieldByName("day").get.id
    table = IceTable.create(ctx.cat, ident, ice,
      PartitionSpec(0, IndexedSeq(PartitionField(dayF, 1000, "day_day", DayTransform))),
      SortOrder(1, IndexedSeq(SortField(idF, IdentityTransform, ascending = true, nullsFirst = true))),
      Map(
        "write.metadata.delete-after-commit.enabled" -> "true",
        "write.metadata.previous-versions-max" -> "2"))
    // the window's days, one append each
    (0 until WindowDays).foreach { _ =>
      val day = (nextId until nextId + RowsPerDay).map(id => id -> Row(0L, payload()))
      table.append(spark).appendDataFrame(frame(day))
      day.foreach { case (id, r) => model(id) = r }
      nextId += RowsPerDay
    }
    files = new DirWatch(table.location)
    files.created()
  }

  def warmUp(): Unit = {
    (1 to 3).foreach(_ => round())
    logicalIngested = 0; bytesCreated = 0
  }

  /** Bytes of files that appeared under the table since the last look. */
  private def noteCreated(): Unit = bytesCreated += files.created().values.sum

  private def traceWrite(): Unit = if (Trace.on) table.currentSnapshot.foreach { s =>
    Trace.add("write.files_added", s.summary.getOrElse("added-data-files", "0").toDouble)
    Trace.add("write.bytes_added", s.summary.getOrElse("added-files-size", "0").toDouble)
  }

  private def pointRead(id: Long): Unit = {
    val got = ctx.op("read", "query") {
      spark.sql(s"SELECT id, v, payload FROM $sqlName WHERE day = ${dateSql(id)} AND id = $id")
        .collect()
    }
    got.foreach { rows =>
      Trace.add("rows_returned", rows.length)
      val want = model(id)
      checks(rows.length == 1 && rows(0).getLong(1) == want.v && rows(0).getString(2) == want.payload,
        s"ingest_upsert: read of id $id gave ${rows.mkString(",")}, model has $want")
    }
    ctx.tracePlan(table, Some(E.equal("day", Literal.date(dayOf(id))).and(E.equal("id", Literal.long(id)))))
  }

  def round(): Unit = {
    // one day of new rows, in two appends, each followed by a read
    (0 until RowsPerDay / AppendRows).foreach { _ =>
      val batch = (nextId until nextId + AppendRows).map(id => id -> Row(0L, payload()))
      val probe = batch(rng.nextInt(batch.size))._1
      ctx.op("append", "write")(table.append(spark).appendDataFrame(frame(batch))).foreach { _ =>
        batch.foreach { case (id, r) => model(id) = r; logicalIngested += logicalBytes(r) }
        traceWrite()
      }
      nextId += AppendRows
      noteCreated()
      pointRead(probe)
    }
    // merge-on-read upsert of keys just appended: the same number from
    // each of this round's appends, so every upsert touches the same files
    (0 until Upserts).foreach { _ =>
      val perAppend = UpsertKeys / (RowsPerDay / AppendRows)
      val keys = mutable.LinkedHashSet.empty[Long]
      (nextId - RowsPerDay until nextId by AppendRows).foreach { from =>
        val want = keys.size + perAppend
        while (keys.size < want) keys += from + rng.nextInt(AppendRows)
      }
      val updates = keys.toSeq.filter(model.contains).map(id => id -> Row(model(id).v + 1, payload()))
      ctx.op("upsert", "write") {
        table.merge(spark, frame(updates), Seq("id"))
          .whenMatchedUpdateAll().withMergeOnRead().commit()
      }.foreach { _ =>
        updates.foreach { case (id, r) => model(id) = r; logicalIngested += logicalBytes(r) }
        traceWrite()
      }
      noteCreated()
      pointRead(updates(rng.nextInt(updates.size))._1)
    }
    // the oldest day leaves the window through position deletes
    val cut = lowId + RowsPerDay
    ctx.op("delete", "write") {
      table.delete(spark).deleteWherePositional(E.lt("id", Literal.long(cut)))
    }.foreach { _ =>
      (lowId until cut).foreach(model.remove)
      lowId = cut
      traceWrite()
    }
    noteCreated()
    ctx.untraced(scanCheck("before maintenance"))
    maintain()
    noteCreated()
    ctx.untraced {
      scanCheck("after maintenance")
      orphanCheck()
    }
  }

  private def maintain(): Unit = {
    val before = if (Trace.on) {
      val deletes = table.planDeleteEntries(table.currentSnapshot.get).size
      Trace.add("write.delete_files_live", deletes)
      Trace.add("write.delete_files_samples", 1)
      Layers.liveDataFiles(table)
    } else Map.empty[String, Long]
    ctx.op("maint", "maint") {
      Trace.span("maint.compact")(table.compact(spark).rewriteDataFiles())
      Trace.span("maint.expire")(table.manageSnapshots()
        .expireSnapshots(System.currentTimeMillis(), retainLast = 1))
      Trace.span("maint.rewrite_manifests")(table.maintenance().rewriteManifests())
      val removed = Trace.span("maint.remove_orphans")(table.maintenance()
        .removeOrphanFiles(System.currentTimeMillis() + 1000))
      Trace.add("maint.orphans_removed", removed.size)
    }
    if (Trace.on) {
      val after = Layers.liveDataFiles(table)
      val rewritten = before.keySet -- after.keySet
      Trace.add("maint.files_rewritten", rewritten.size)
      Trace.add("maint.bytes_rewritten", rewritten.toSeq.map(before).sum.toDouble)
    }
  }

  private def mix(id: Long, v: Long, p: String): Long = {
    var h = id * 0x9E3779B97F4A7C15L ^ (v + 0x632BE59BD9B4E019L) * 0xC2B2AE3D27D4EB4FL
    h ^= p.hashCode.toLong * 0x165667B19E3779F9L
    h ^ (h >>> 31)
  }

  /** Full scan against the model: row count and an order-independent
    * checksum. A maintenance cycle must leave both unchanged. */
  private def scanCheck(when: String): Unit = {
    val rows = spark.sql(s"SELECT id, v, payload FROM $sqlName").collect()
    val got = rows.iterator.map(r => mix(r.getLong(0), r.getLong(1), r.getString(2))).sum
    val want = model.iterator.map { case (id, r) => mix(id, r.v, r.payload) }.sum
    checks(rows.length == model.size && got == want,
      s"ingest_upsert: full scan $when has ${rows.length} rows (model ${model.size}), " +
        s"checksum ${if (got == want) "matches" else "differs"}")
  }

  /** After orphan removal every file under the table is referenced by
    * the table's metadata. */
  private def orphanCheck(): Unit = {
    val meta = table.metadata
    def norm(p: String) = ManifestAvro.stripFileScheme(p)
    val referenced = mutable.Set.empty[String]
    ctx.cat.metadataLocation(ident).foreach(referenced += norm(_))
    meta.metadataLog.foreach(e => referenced += norm(e.metadataFile))
    referenced += s"${norm(table.metadataFileDir)}/version-hint.text"
    meta.snapshots.foreach { s =>
      referenced += norm(s.manifestList)
      ManifestAvro.readManifestList(s.manifestList).foreach { m =>
        referenced += norm(m.manifestPath)
        val spec = meta.specById(m.partitionSpecId).get
        ManifestAvro.readManifest(m.manifestPath, spec.partitionType(meta.currentSchema), Some(m))
          .foreach(e => referenced += norm(e.dataFile.filePath))
      }
    }
    val (strayMeta, stray) = files.list().keySet.filterNot(referenced.contains)
      .partition(_.endsWith(".metadata.json"))
    checks(stray.isEmpty,
      s"ingest_upsert: ${stray.size} unreferenced files after orphan removal, e.g. ${stray.take(3)}")
    // Metadata JSONs are outside the orphan sweep by design; the metadata
    // log trim with delete-after-commit must remove them. A version file
    // that neither the log nor the catalog pointer references is a leak,
    // and the cycle's audit fails.
    val leaked = strayMeta -- leakedMeta
    leakedMeta ++= strayMeta
    ctx.audit("metadata_gc")(leaked.isEmpty,
      s"metadata version files referenced by neither the metadata log nor the catalog: $leaked")
  }

  /** Rows appended or upserted in a round over the round's median write
    * and maintenance time. */
  def rowsPerSecond(log: OpLog): Double =
    (RowsPerDay + Upserts * UpsertKeys) / log.medianRoundSeconds(Seq("append", "upsert", "delete", "maint"))

  def detail(log: OpLog): Map[String, Any] = {
    val live = model.valuesIterator.map(logicalBytes).sum
    Map(
      "append_p50_s" -> log.median("append"),
      "upsert_p50_s" -> log.median("upsert"),
      "maint_p50_s" -> log.median("maint"),
      "leaked_metadata_versions" -> leakedMeta.size,
      "space_amp" -> files.totalBytes.toDouble / live,
      "write_amp" -> bytesCreated.toDouble / logicalIngested)
  }
}
