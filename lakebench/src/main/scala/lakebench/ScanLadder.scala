package lakebench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThanOrEqual}

import graft.lake.DuckLake

/** Read-only reads over a static lake: a lineitem-shaped table in three
  * copies (clean, 1% and 10% merge-on-read deleted, the deletes spread
  * over every file), an orders-shaped table, and a table whose history
  * went through `merge_adjacent_files`. No commit happens after setup, so
  * every (table, snapshot) pair read stays in the catalog's scan-planning
  * cache; the scan build, the MOR anti-join, SQL planning and Spark
  * execution do the work.
  */
final class ScanLadder extends Workload {
  import ScanLadder._

  val nominalCycleS = 4.4
  var lake: DuckLake = _
  var root: String = _
  private var alias: String = _
  private var preMerge = 0L
  private var expected: Map[String, Seq[Row]] = Map.empty
  private var reads: Seq[Read] = Nil

  val tables = Seq("main.li_clean", "main.li_d1", "main.li_d10", "main.orders", "main.hist")

  /** One read of the fixed set: its DataFrame form over a base table (and a
    * resolver for any other table it joins), its SQL text, and where its
    * expected rows come from.
    */
  private final case class Read(name: String, table: String, snapshot: Option[Long],
      pushed: Seq[Filter], query: (DataFrame, String => DataFrame) => DataFrame,
      sql: String)

  def setup(ctx: Ctx, root: String, alias: String): Unit = {
    this.root = root; this.alias = alias
    val spark = ctx.spark
    lake = Lakes.open(spark, root, alias)
    val li = lineitem(spark, ctx.seed)
    lake.createTableAs(li, "main.li_clean")
    // the deleted copies are zero-copy clones: they share the data files
    // and get delete files of their own
    lake.cloneTable("main.li_clean", "main.li_d1")
    lake.cloneTable("main.li_clean", "main.li_d10")
    lake.deleteWhere("main.li_d1", deleted(ctx.seed, 1))
    lake.deleteWhere("main.li_d10", deleted(ctx.seed, 10))
    lake.createTableAs(orders(spark, ctx.seed), "main.orders")
    lake.createTableAs(histBatch(spark, ctx.seed, 0), "main.hist")
    preMerge = lake.currentSnapshot
    for (b <- 1 until HistBatches) {
      lake.insertInto(histBatch(spark, ctx.seed, b), "main.hist")
    }
    lake.mergeAdjacentFiles(table = Some("main.hist"))
    reads = readSet(ctx.seed)
  }

  private def readSet(seed: Long): Seq[Read] = {
    val rng = new scala.util.Random(seed)
    val lo = 1L + rng.nextInt(Orders - RangeKeys)
    val hi = lo + RangeKeys - 1
    val point = 1L + rng.nextInt(Orders)
    val day = 200 + rng.nextInt(2000)
    def t(n: String) = s"$alias.main.$n"
    def ladder(n: String) = Read(s"agg_$n", s"main.li_$n", None, Nil,
      (d, _) => d.groupBy("l_returnflag").agg(count(lit(1)).as("n"),
        sum("l_quantity").as("q"), sum("l_extendedprice").as("p")).orderBy("l_returnflag"),
      s"SELECT l_returnflag, count(1) AS n, sum(l_quantity) AS q, sum(l_extendedprice) AS p " +
        s"FROM ${t(s"li_$n")} GROUP BY l_returnflag ORDER BY l_returnflag")
    val cutoff = date_add(lit("1992-01-01").cast("date"), day)
    Seq(ladder("clean"), ladder("d1"), ladder("d10"),
      Read("range_d1", "main.li_d1", None,
        Seq(GreaterThanOrEqual("l_orderkey", lo), LessThanOrEqual("l_orderkey", hi)),
        (d, _) => d.filter(col("l_orderkey").between(lo, hi))
          .agg(count(lit(1)), sum("l_quantity"), sum("l_extendedprice")),
        s"SELECT count(1), sum(l_quantity), sum(l_extendedprice) FROM ${t("li_d1")} " +
          s"WHERE l_orderkey BETWEEN $lo AND $hi"),
      Read("point_d10", "main.li_d10", None, Seq(EqualTo("l_orderkey", point)),
        (d, _) => d.filter(col("l_orderkey") === point).orderBy("l_linenumber"),
        s"SELECT * FROM ${t("li_d10")} WHERE l_orderkey = $point ORDER BY l_linenumber"),
      Read("join_d1", "main.li_d1", None, Nil,
        (d, other) => d.join(other("main.orders").filter(col("o_orderdate") < cutoff),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"), sum("l_extendedprice").as("p"))
          .orderBy("o_orderpriority"),
        s"SELECT o_orderpriority, count(1) AS n, sum(l_extendedprice) AS p FROM ${t("li_d1")} " +
          s"JOIN ${t("orders")} ON l_orderkey = o_orderkey " +
          s"WHERE o_orderdate < date_add(DATE'1992-01-01', $day) " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      Read("timetravel_hist", "main.hist", Some(preMerge), Nil,
        (d, _) => d.agg(count(lit(1)), sum("h_v"), min("h_id"), max("h_id")),
        s"SELECT count(1), sum(h_v), min(h_id), max(h_id) FROM ${t("hist")} VERSION AS OF $preMerge"))
  }

  /** Expected rows from plain Spark over the generator's rows, deletes
    * applied as filters; never through the lake.
    */
  private def computeExpected(ctx: Ctx): Map[String, Seq[Row]] = {
    val spark = ctx.spark
    val li = lineitem(spark, ctx.seed)
    // the negative control expects the time-travel read one snapshot too late
    val histUpTo = if (ctx.inject) PreMergeBatch + 1 else PreMergeBatch
    val gen: Map[String, DataFrame] = Map(
      "main.li_clean" -> li,
      "main.li_d1" -> li.filter(!deleted(ctx.seed, 1)),
      "main.li_d10" -> li.filter(!deleted(ctx.seed, 10)),
      "main.orders" -> orders(spark, ctx.seed),
      "main.hist" -> (0 to histUpTo).map(histBatch(spark, ctx.seed, _)).reduce(_ union _))
    reads.map(r => r.name -> r.query(gen(r.table), gen).collect().toSeq).toMap
  }

  def cycle(ctx: Ctx, c: Int): Unit = {
    if (expected.isEmpty) expected = computeExpected(ctx)
    reads.foreach { r =>
      val df = ctx.dfRead(r.name, lake, r.table, r.snapshot, r.pushed)(
        d => r.query(d, other => ctx.tracer.span("scan.build")(lake.table(other))))
      val sql = ctx.sqlRead(r.name, r.sql)
      val want = expected(r.name)
      ctx.check(Compare.rows(df.toSeq, want),
        s"scan_ladder ${r.name} DataFrame: got ${Compare.show(df.toSeq)}, want ${Compare.show(want)}")
      ctx.check(Compare.rows(sql.toSeq, want),
        s"scan_ladder ${r.name} SQL: got ${Compare.show(sql.toSeq)}, want ${Compare.show(want)}")
    }
  }

  def taxReads(ctx: Ctx): Seq[TaxRead] = Seq("clean", "d1", "d10").map { n =>
    val r = reads.find(_.name == s"agg_$n").get
    val files = lake.listFilesAt(s"li_$n").select("data_file").collect().map(_.getString(0))
    TaxRead(r.name, () => r.query(lake.table(r.table), lake.table(_)), r.sql,
      () => r.query(ctx.spark.read.parquet(files.toIndexedSeq: _*), _ => sys.error("no join")))
  }
}

object ScanLadder {
  /** 40k lineitem rows in 4 files, 4 lines per order: each file holds a
    * contiguous order-key range, so min/max stats can prune a key range.
    */
  val LineRows = 40000L
  val LineFiles = 4
  val Orders: Int = (LineRows / 4).toInt
  val RangeKeys = 500
  val HistBatches = 2
  val HistRows = 5000L
  /** The `VERSION AS OF` read sees the history after this batch. */
  val PreMergeBatch = 0

  private def h(c: Column, seed: Long, salt: Int, mod: Long): Column =
    pmod(xxhash64(c, lit(seed * 31 + salt)), lit(mod))

  def lineitem(spark: org.apache.spark.sql.SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    spark.range(0, LineRows, 1, LineFiles).select(
      expr("id div 4 + 1").as("l_orderkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      h(id, seed, 1, 20000).as("l_partkey"),
      (h(id, seed, 2, 50) + 1).as("l_quantity"),
      ((h(id, seed, 3, 100000) + 100) / 100.0).as("l_extendedprice"),
      (h(id, seed, 4, 11) / 100.0).as("l_discount"),
      date_add(lit("1994-01-01").cast("date"), h(id, seed, 5, 2000).cast("int")).as("l_shipdate"),
      element_at(array(lit("A"), lit("N"), lit("R")), (h(id, seed, 6, 3) + 1).cast("int"))
        .as("l_returnflag"),
      concat(lit("c"), h(id, seed, 7, 100000).cast("string")).as("l_comment"))
  }

  /** `pct` percent of the lineitem rows, spread evenly over every file. */
  def deleted(seed: Long, pct: Int): Column =
    pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(seed * 31 + 8)), lit(100L)) < pct

  def orders(spark: org.apache.spark.sql.SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    spark.range(1, Orders + 1L, 1, 2).select(
      id.as("o_orderkey"),
      h(id, seed, 9, 5000).as("o_custkey"),
      ((h(id, seed, 10, 50000000) + 1000) / 100.0).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), h(id, seed, 11, 2400).cast("int")).as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
        (h(id, seed, 12, 5) + 1).cast("int")).as("o_orderpriority"))
  }

  def histBatch(spark: org.apache.spark.sql.SparkSession, seed: Long, b: Int): DataFrame =
    spark.range(b * HistRows, (b + 1) * HistRows, 1, 1)
      .select(col("id").as("h_id"), h(col("id"), seed, 13, 1000).as("h_v"))
}
