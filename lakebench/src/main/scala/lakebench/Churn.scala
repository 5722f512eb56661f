package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{DuckLake, TypeBridge}

/** Repeated cycles of appends, merge-on-read deletes, SQL UPDATE and
  * MERGE INTO, and DataFrame and SQL reads (a time-travel read and a CDC
  * read among them); each cycle ends with maintenance. Every commit
  * advances the snapshot, so reads miss the scan-planning cache and the
  * catalog, the commit path and the row-level scan do the work.
  * Maintenance (compact or rewriteFiles, then expire and vacuum) brings
  * the table back to the same shape, so cycles repeat position by
  * position instead of slowing down as history grows.
  *
  * Every result is checked against a model kept from each operation's
  * known effect: the live rows with exact integer checksums, and copies
  * for the snapshots the time-travel and CDC reads target.
  */
final class Churn extends Workload {
  import Churn._

  val nominalCycleS = 5.5
  /** The write, row-level and maintenance paths take a second cycle to
    * warm up: cycle times still fall steeply after the first.
    */
  override val warmupCycles = 2
  /** compact and rewriteFiles alternate. */
  override val period = 2
  var lake: DuckLake = _
  var root: String = _
  private var alias: String = _
  /** The widened table lives in a lake of its own that maintenance never
    * touches: expiring the snapshots of its INT era loses the column
    * history its data file needs, and the column then reads as NULL.
    */
  private var wideLake: DuckLake = _
  private var rng: scala.util.Random = _
  private var seed = 0L
  /** The model: id → (k, v, amt) of every live row. */
  private val live = mutable.HashMap.empty[Long, (Long, Long, Double)]
  private var nextId = 0L
  /** The widened table's column sum, as the model expects it. */
  private var wideSum = 0L
  private var deletesApplied = 0
  private var maintenanceMs = 0.0

  val tables = Seq("main.ev")

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("k", LongType), StructField("v", LongType),
    StructField("amt", DoubleType), StructField("tag", StringType),
    StructField("payload", StringType)))

  private def newRows(n: Int): Seq[(Long, (Long, Long, Double))] =
    (0 until n).map { _ =>
      val id = nextId; nextId += 1
      id -> (rng.nextInt(100).toLong, rng.nextInt(1000000).toLong, rng.nextInt(1000000) / 100.0)
    }

  private def toDf(ctx: Ctx, rows: Seq[(Long, (Long, Long, Double))], parts: Int): DataFrame = {
    val rs = rows.map { case (id, (k, v, a)) => Row(id, k, v, a, s"t$k", payload(id)) }
    ctx.spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema).repartition(parts)
  }

  /** A row's payload: random letters drawn from its id and the seed, which
    * Parquet's codec cannot shrink, so the live rows outweigh the catalog
    * database and `stored_bytes_ratio` sees growth of the lake's files.
    */
  private def payload(id: Long): String = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)
    val cs = Array.fill(PayloadChars)(Alphabet.charAt(r.nextInt(Alphabet.length)))
    new String(cs)
  }

  def setup(ctx: Ctx, root: String, alias: String): Unit = {
    this.root = root; this.alias = alias
    seed = ctx.seed
    rng = new scala.util.Random(ctx.seed)
    live.clear(); nextId = 0L; deletesApplied = 0; maintenanceMs = 0.0
    lake = Lakes.open(ctx.spark, root, alias)
    val init = newRows(InitialRows)
    lake.createTableAs(toDf(ctx, init, InitialFiles), "main.ev")
    live ++= init
    // the widened table does not depend on the seed: its UPDATE fails on
    // every input today (the row-level reader decodes the promoted column
    // with its current type)
    wideLake = Lakes.open(ctx.spark, s"$root-wide", s"${alias}w")
    val wide = ctx.spark.range(0, WideRows, 1, 1)
      .select(col("id"), (col("id") * 3).cast("int").as("w"))
    wideLake.createTableAs(wide, "main.wide")
    wideLake.alterColumnType("main.wide", "w", TypeBridge.fromSpark(LongType))
    wideSum = (0L until WideRows).map(_ * 3).sum
  }

  private def checksum(rows: Iterable[(Long, (Long, Long, Double))]): Row = {
    val rs = rows.toSeq
    Row(rs.size.toLong, rs.map(_._1).sum, rs.map(_._2._1).sum, rs.map(_._2._2).sum,
      rs.map(_._2._3).sum)
  }

  private def fileIds: Map[Long, Option[String]] = {
    val snap = lake.store.currentSnapshot
    val sch = lake.store.getSchemaByName("main", snap).get
    val tr = lake.store.getTableByName(sch.schemaId, "ev", snap).get
    lake.store.getDataFiles(tr.tableId, snap).map(f => f.dataFileId -> f.deleteFile.map(_.path)).toMap
  }

  /** A write operation; in a traced cycle, the files it added are counted
    * from the catalog before and after (outside the timed span).
    */
  private def write(ctx: Ctx, kind: String)(body: => Unit): Unit = {
    val before = if (ctx.tracer.active) fileIds else Map.empty[Long, Option[String]]
    ctx.op(kind)(body)
    ctx.tracer.traced {
      val after = fileIds
      ctx.tracer.count("write.files_added", after.keySet.diff(before.keySet).size.toDouble)
      ctx.tracer.count("write.delete_files_added", after.count { case (id, d) =>
        d.isDefined && before.get(id).flatten != d
      }.toDouble)
    }
  }

  def cycle(ctx: Ctx, c: Int): Unit = {
    val t = s"$alias.main.ev"
    val startSnap = lake.currentSnapshot
    val startSum = checksum(live)
    for (step <- 0 until Steps) {
      // append, and the CDC read of exactly its snapshot
      val rows = newRows(AppendRows)
      val s0 = lake.currentSnapshot
      write(ctx, "append")(lake.insertInto(toDf(ctx, rows, 1), "main.ev"))
      live ++= rows
      val s1 = lake.currentSnapshot
      val cdc = ctx.dfScan("cdc", lake, "main.ev", Some(s1)) {
        lake.tableChanges("main.ev", s0, s1).agg(count(lit(1)), sum("id"), sum("v"))
      }
      val cs = checksum(rows)
      ctx.check(Compare.rows(cdc.toSeq, Seq(Row(cs.get(0), cs.get(1), cs.get(3)))),
        s"churn cdc ($s0, $s1]: got ${Compare.show(cdc.toSeq)}, want $cs")

      // MOR delete of ~2.5% of the rows, spread over every file
      val r = rng.nextInt(DeleteMod)
      write(ctx, "delete")(lake.deleteWhere("main.ev", col("id") % DeleteMod === r))
      // the negative control leaves the first delete out of the model
      if (!(ctx.inject && deletesApplied == 0))
        live.filterInPlace { case (id, _) => id % DeleteMod != r }
      deletesApplied += 1

      // SQL UPDATE of ~1% of the rows
      val ru = rng.nextInt(UpdateMod); val d = 1 + rng.nextInt(1000)
      write(ctx, "update")(ctx.spark.sql(s"UPDATE $t SET v = v + $d WHERE id % $UpdateMod = $ru"))
      val updated = live.keys.filter(_ % UpdateMod == ru).toSeq
      updated.foreach(id => live(id) = live(id).copy(_2 = live(id)._2 + d))
      ctx.tracer.count("rowlevel.rows_changed", updated.size.toDouble)

      // SQL MERGE: half the source rows match live ids, half are new
      val liveIds = live.keys.toArray.sorted
      val matched = Seq.fill(MergeRows / 2)(liveIds(rng.nextInt(liveIds.length))).distinct
      val fresh = newRows(MergeRows / 2)
      val dv = 1 + rng.nextInt(1000)
      val src = matched.map(id => id -> live(id)) ++ fresh
      toDf(ctx, src, 1).createOrReplaceTempView("churn_src")
      write(ctx, "merge")(ctx.spark.sql(
        s"""MERGE INTO $t t USING churn_src s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = t.v + $dv
           |WHEN NOT MATCHED THEN INSERT (id, k, v, amt, tag, payload)
           |  VALUES (s.id, s.k, s.v, s.amt, s.tag, s.payload)"""
          .stripMargin))
      matched.foreach(id => live(id) = live(id).copy(_2 = live(id)._2 + dv))
      live ++= fresh
      ctx.tracer.count("rowlevel.rows_changed", (matched.size + fresh.size).toDouble)

      // reads: the whole-table checksum, now and at the cycle's first snapshot
      val want = checksum(live)
      val aggQ = (d: DataFrame) => d.agg(count(lit(1)), sum("id"), sum("k"), sum("v"), sum("amt"))
      val aggSql = s"SELECT count(1), sum(id), sum(k), sum(v), sum(amt) FROM $t"
      check(ctx, "agg", Seq(want), ctx.dfRead("agg", lake, "main.ev")(aggQ),
        ctx.sqlRead("agg", aggSql))

      check(ctx, "timetravel", Seq(startSum),
        ctx.dfRead("timetravel", lake, "main.ev", Some(startSnap))(aggQ),
        ctx.sqlRead("timetravel", s"$aggSql VERSION AS OF $startSnap"))
    }

    // maintenance brings the table back to the same shape every cycle
    val m0 = System.nanoTime()
    ctx.op("maint.rewrite") {
      if (c % 2 == 0) lake.compact("main.ev", InitialFiles)
      else lake.rewriteFiles("main.ev", minDeleteRatio = 0.0, smallFileBytes = 64L << 20)
    }
    ctx.op("maint.expire")(lake.expireSnapshots(lake.currentSnapshot))
    val removed = ctx.op("maint.vacuum")(lake.vacuum())
    ctx.tracer.count("maint.files_removed", removed.toDouble)
    if (ctx.timed && !ctx.tracer.active) maintenanceMs += (System.nanoTime() - m0) / 1e6

    // the known fault, outside the timed operations: SQL UPDATE on a
    // column promoted from INT to BIGINT
    val failedNow = try {
      ctx.spark.sql(s"UPDATE ${alias}w.main.wide SET w = w + 1 WHERE id < 10")
      wideSum += 10
      val got = wideLake.table("main.wide").agg(sum("w")).head().getLong(0)
      ctx.check(got == wideSum, s"churn widened UPDATE: sum(w) = $got, want $wideSum")
      false
    } catch {
      case e: Exception if isPromotionFault(e) => true
    }
    if (ctx.timed) {
      ctx.attempted += 1
      if (failedNow) ctx.failed += 1
    }
  }

  private def isPromotionFault(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[ClassCastException])

  private def check(ctx: Ctx, read: String, want: Seq[Row], df: Array[Row], sql: Array[Row]): Unit = {
    ctx.check(Compare.rows(df.toSeq, want),
      s"churn $read DataFrame: got ${Compare.show(df.toSeq)}, want ${Compare.show(want)}")
    ctx.check(Compare.rows(sql.toSeq, want),
      s"churn $read SQL: got ${Compare.show(sql.toSeq)}, want ${Compare.show(want)}")
  }

  override def teardown(): Unit = {
    super.teardown()
    Lakes.close(wideLake, s"$root-wide")
  }

  def taxReads(ctx: Ctx): Seq[TaxRead] = {
    val files = lake.listFilesAt("ev").select("data_file").collect().map(_.getString(0))
    val q = (d: DataFrame) => d.agg(count(lit(1)), sum("id"), sum("k"), sum("v"), sum("amt"))
    Seq(TaxRead("agg_ev", () => q(lake.table("main.ev")),
      s"SELECT count(1), sum(id), sum(k), sum(v), sum(amt) FROM $alias.main.ev",
      () => q(ctx.spark.read.parquet(files.toIndexedSeq: _*))))
  }

  override def extraMetrics(ctx: Ctx): Seq[(String, Double, String)] = {
    def p50(k: String) = Stats.median(ctx.samples.getOrElse(k, mutable.ArrayBuffer.empty[Double]).toSeq)
    Seq(("append_p50_ms", p50("append"), "ms"), ("delete_p50_ms", p50("delete"), "ms"),
      ("update_p50_ms", p50("update"), "ms"), ("merge_p50_ms", p50("merge"), "ms"),
      ("maintenance_s", maintenanceMs / 1000.0, "s"))
  }
}

object Churn {
  val InitialRows = 10000
  val InitialFiles = 2
  val Steps = 1
  val AppendRows = 200
  /** `id % DeleteMod = r` deletes ~2.5% of the rows each step, as many as
    * an append and a MERGE add, so the table keeps its size.
    */
  val DeleteMod = 40
  val UpdateMod = 97
  val MergeRows = 100
  val WideRows = 100L
  /** 256 characters a row: 10,000 rows make about 2.7 MB of Parquet,
    * comparable to the catalog database's own footprint of about 3.2 MB.
    */
  val PayloadChars = 256
  val Alphabet = ('a' to 'z').mkString + ('A' to 'Z').mkString + ('0' to '9').mkString + "+/"
}
