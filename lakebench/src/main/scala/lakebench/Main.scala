package lakebench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.sources.Filter

import graft.lake.DuckLake
import graft.lake.connector.DuckLakeSparkCatalog

/** A read measured against plain Parquet: the lake read through
  * `DuckLake.table`, the same query through SQL on the lake catalog, and
  * the same query over `spark.read.parquet` of the table's data files
  * (deletes ignored).
  */
final case class TaxRead(name: String, lakeDf: () => DataFrame, sql: String,
    raw: () => DataFrame)

/** State shared by a run's operations: latency samples, the checks, and
  * the tracer. Operations run one at a time from this thread (one client,
  * closed loop).
  */
final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer,
    val inject: Boolean) {
  /** Wall ms of every operation of the untraced timed cycles, by kind. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[String]
  var cycle = 0
  var timed = false
  var opMsInCycle = 0.0
  /** Operations of the timed cycles, including ones attempted outside the
    * timed spans (`failed` counts only those).
    */
  var attempted = 0L
  var failed = 0L
  /** Operations inside the timed spans. */
  var timedOps = 0L

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failures += what; System.err.println(s"[lakebench] CHECK FAILED: $what") }

  /** Times one operation of the workload. Checks run outside `body`. */
  def op[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = tracer.op(kind, cycle)(body)
    val ms = (System.nanoTime() - t0) / 1e6
    if (timed) {
      attempted += 1
      timedOps += 1
      opMsInCycle += ms
      if (!tracer.active) samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    }
    r
  }

  /** A read through `DuckLake.table`, from the call to the last row. */
  def dfRead(read: String, lake: DuckLake, table: String, snapshot: Option[Long] = None,
      pushed: Seq[Filter] = Nil)(query: DataFrame => DataFrame): Array[Row] =
    dfScan(read, lake, table, snapshot) {
      val base = lake.table(table, snapshot, pushed)
      tracer.count("scan.files_kept", lake.lastScanFileCount.toDouble)
      query(base)
    }

  /** A DataFrame read of one lake table whose scan `build` constructs. In
    * a traced cycle the catalog calls a scan build makes are first made
    * (and timed) one by one.
    */
  def dfScan(read: String, lake: DuckLake, table: String, snapshot: Option[Long])(
      build: => DataFrame): Array[Row] =
    op(s"df:$read") {
      tracer.traced(Layers.catalogCalls(tracer, lake, table, snapshot))
      val df = tracer.span("scan.build")(build)
      tracer.traced {
        tracer.count("scan.relations", df.queryExecution.analyzed.collectLeaves().size.toDouble)
        tracer.span("plan.df")(df.queryExecution.executedPlan)
      }
      tracer.span("exec")(df.collect())
    }

  /** A read through SQL on the lake catalog, from `spark.sql` to the last row. */
  def sqlRead(read: String, text: String): Array[Row] =
    op(s"sql:$read") {
      val df = tracer.span("sql.analyze")(spark.sql(text))
      tracer.traced(tracer.span("sql.plan")(df.queryExecution.executedPlan))
      tracer.span("exec")(df.collect())
    }
}

/** One benchmark workload over a lake it builds itself. */
trait Workload {
  /** Seconds one timed cycle takes on the 4-core reference host: with the
    * run length it fixes the number of cycles, never the clock.
    */
  def nominalCycleS: Double
  /** Generates the inputs from the seed and builds the lake under `root`. */
  def setup(ctx: Ctx, root: String, alias: String): Unit
  /** Cycles after which the operation sequence repeats position by position. */
  def period: Int = 1
  /** Untimed cycles before the timed ones. */
  def warmupCycles: Int = 1
  /** One cycle of the fixed operation sequence; cycles up to 0 are warm-up. */
  def cycle(ctx: Ctx, c: Int): Unit
  def lake: DuckLake
  def root: String
  /** Lake tables whose live rows count as user data. */
  def tables: Seq[String]
  def taxReads(ctx: Ctx): Seq[TaxRead]
  /** Workload-specific end-to-end figures, printed but not gated. */
  def extraMetrics(ctx: Ctx): Seq[(String, Double, String)] = Nil
  /** Workload-specific per-layer counts of the traced run. */
  def layerCounts(ctx: Ctx): Map[String, Double] = Map.empty
  def teardown(): Unit = Lakes.close(lake, root)
}

object Lakes {
  def open(spark: SparkSession, root: String, alias: String): DuckLake = {
    val lake = new DuckLake(spark, s"$root/meta", s"$root/data")
    DuckLakeSparkCatalog.adopt(lake)
    spark.conf.set(s"spark.sql.catalog.$alias", classOf[DuckLakeSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$alias.metaDb", s"$root/meta")
    spark.conf.set(s"spark.sql.catalog.$alias.dataPath", s"$root/data")
    lake
  }

  def close(lake: DuckLake, root: String): Unit = if (lake != null) {
    DuckLakeSparkCatalog.forget(lake)
    lake.close()
    Files.rm(new File(root))
  }
}

object Files {
  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Result comparison: exact for integers and strings, relative tolerance
  * for floating-point sums (their value depends on summation order).
  */
object Compare {
  def value(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y)) + 1e-9
    case (x: Row, y: Row) => rows(Seq(x), Seq(y))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => value(p, q) }
    case _ => a == b
  }

  def rows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (r, s) =>
      r.size == s.size && (0 until r.size).forall(i => value(r.get(i), s.get(i)))
    }

  def show(rs: Seq[Row]): String = rs.take(5).mkString("; ") + (if (rs.size > 5) s" … (${rs.size} rows)" else "")
}

object Main {
  private val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val inject = opts.getOrElse("inject", "0") == "1"
    val work = new File(opts.getOrElse("work-dir", ".bench_build/work")).getAbsoluteFile
    val traceOut = opts.get("trace-out")
    Files.rm(work)
    work.mkdirs()

    val wl: Workload = workload match {
      case "scan_ladder"    => new ScanLadder
      case "churn"          => new Churn
      case "pipeline_dedup" => new PipelineDedup
      case other => sys.error(s"unknown workload '$other' (scan_ladder, churn, pipeline_dedup)")
    }
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("lakebench")
      .config("spark.sql.extensions", "graft.lake.connector.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, seed, tracer, inject)

    try {
      def timeS(body: => Unit): Double = {
        val s0 = System.nanoTime(); body; (System.nanoTime() - s0) / 1e9
      }
      // the first build and the warm-up cycles (numbered up to 0) run cold
      // code and are discarded; set-up is then timed on fresh lakes built
      // from the same inputs, and the timed cycles replay the same
      // operation sequence on the last of them
      val coldS = timeS(wl.setup(ctx, s"$work/lake0", "lake0"))
      val warmS = timeS(for (c <- 1 - wl.warmupCycles to 0) { ctx.cycle = c; wl.cycle(ctx, c) })
      val setupS = (1 to SetupReps).map { i =>
        wl.teardown()
        timeS(wl.setup(ctx, s"$work/lake$i", s"lake$i"))
      }

      val planned = math.max(2, math.round(seconds / wl.nominalCycleS).toInt)
      // a traced run alternates blocks of `period` untraced and traced
      // cycles, so both cover every position of the workload's period
      val block = 2 * wl.period
      val cycles = if (trace) block * ((planned + block - 1) / block) else planned
      val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
      def gcMs = gc.map(_.getCollectionTime).sum.toDouble
      val cycleMs = mutable.ArrayBuffer.empty[(Boolean, Double)]
      var tracedGcMs = 0.0
      ctx.timed = true
      val c0 = System.nanoTime()
      for (c <- 1 to cycles) {
        ctx.cycle = c
        ctx.opMsInCycle = 0.0
        tracer.active = trace && (c - 1) / wl.period % 2 == 1
        val g0 = gcMs
        wl.cycle(ctx, c)
        if (tracer.active) tracedGcMs += gcMs - g0
        cycleMs += (tracer.active -> ctx.opMsInCycle)
        tracer.active = false
      }
      ctx.timed = false
      val timedS = (System.nanoTime() - c0) / 1e9

      // Spark frees broadcast and shuffle blocks only after a GC has
      // cleared their references, so collect until that cleanup has run
      val heapMb = (1 to 4).map { _ =>
        System.gc()
        Thread.sleep(250)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }.min

      val lines = mutable.ArrayBuffer.empty[String]
      val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
      println(s"[lakebench] cycle_ms=${cycleMs.map(c => f"${c._2}%.0f").mkString("/")}")
      println(f"[lakebench] workload=$workload seed=$seed cores=$cores cycles=$cycles " +
        f"session_s=$sessionS%.3f cold_setup_s=$coldS%.3f warmup_s=$warmS%.3f " +
        f"setup_s=${setupS.map(s => f"$s%.3f").mkString("/")} timed_s=$timedS%.3f")
      if (!trace) {
        def sumOfMedians(prefix: String) =
          ctx.samples.collect { case (k, v) if k.startsWith(prefix) => Stats.median(v.toSeq) }.sum
        val opMs = cycleMs.map(_._2).sum
        metrics("setup_s") = Stats.median(setupS) -> "s"
        metrics("df_read_ms") = sumOfMedians("df:") -> "ms"
        metrics("sql_read_ms") = sumOfMedians("sql:") -> "ms"
        metrics("ops_per_s") = ctx.timedOps / (opMs / 1000.0) -> "1/s"
        metrics("heap_mb") = heapMb -> "MiB"
        metrics("stored_bytes_ratio") = storedBytesRatio(spark, wl, work) -> "ratio"
        ctx.samples.foreach { case (k, v) =>
          lines += f"[lakebench] op $k%-22s n=${v.size}%3d p50=${Stats.median(v.toSeq)}%9.2f ms"
        }
        wl.extraMetrics(ctx).foreach { case (n, v, u) => lines += s"metric $n ${Json.num(v)} $u" }
      } else {
        val (layers, report) = Layers.report(ctx, wl, cycleMs.toSeq, tracedGcMs)
        layers.foreach { case (k, v) => metrics(k) = v }
        lines ++= report
        traceOut.foreach { p =>
          val f = new File(p); f.getParentFile.mkdirs()
          val w = new java.io.PrintWriter(f, "UTF-8")
          try w.write(s"""{"workload":${Json.str(workload)},"seed":$seed,""" +
            s""""spans":${tracer.spansJson},\n"ops":${tracer.opsJson}}""")
          finally w.close()
          lines += s"[lakebench] spans and per-operation stage metrics written to $p"
        }
      }
      lines.foreach(println)
      metrics.foreach { case (k, (v, u)) => println(s"metric $k ${Json.num(v)} $u") }
      println(s"[lakebench] attempted=${ctx.attempted} failed=${ctx.failed} " +
        s"check_failures=${ctx.failures.size}")
      val m = metrics.map { case (k, (v, u)) =>
        s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
      }.mkString(", ")
      println(s"""{"correct": ${ctx.failures.isEmpty}, "attempted": ${ctx.attempted}, """ +
        s""""failed": ${ctx.failed}, "metrics": {$m}}""")
    } finally {
      try wl.teardown() catch { case _: Throwable => () }
      spark.stop()
      Files.rm(work)
    }
  }

  /** Bytes under the lake's data directory and catalog database, divided
    * by the bytes of the same live rows written once by plain
    * `df.write.parquet` with the session's codec.
    */
  private def storedBytesRatio(spark: SparkSession, wl: Workload, work: File): Double = {
    val plain = new File(work, "plain")
    val plainBytes = wl.tables.zipWithIndex.map { case (t, i) =>
      val dir = new File(plain, s"t$i")
      wl.lake.table(t).write.parquet(dir.getPath)
      Files.du(dir)
    }.sum
    Files.rm(plain)
    (Files.du(new File(wl.root, "data")) + Files.du(new File(wl.root, "meta"))).toDouble / plainBytes
  }
}
