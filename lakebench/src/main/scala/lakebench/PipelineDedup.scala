package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.DuckLake
import graft.ops.Dedup

/** Repeated identical dedup passes over a document corpus stored as a lake
  * table: `DuckLake.table` → exact dedup → MinHash candidates → Jaccard
  * verification → best document per cluster → `createTableAs` of the
  * survivors. Spark shuffle, aggregation and the ops layer do the work;
  * the catalog and the scan build are a small share, so a lake-layer
  * change should read flat here.
  */
final class PipelineDedup extends Workload {
  import PipelineDedup._

  val nominalCycleS = 3.7
  var lake: DuckLake = _
  var root: String = _
  private var alias: String = _
  private var corpus: Corpus = _
  /** Survivor ids the checks expect, known after the warm-up pass; the
    * lakes rebuilt from the same seed after it hold the same corpus.
    */
  private var expectedSurvivors: Set[Long] = Set.empty
  private var pairStats = Map.empty[String, Double]

  val tables = Seq("main.corpus", "main.survivors")

  def setup(ctx: Ctx, root: String, alias: String): Unit = {
    this.root = root; this.alias = alias
    corpus = Corpus.generate(ctx.seed)
    lake = Lakes.open(ctx.spark, root, alias)
    val rows = corpus.docs.map { case (id, text, q) => Row(id, text, q) }
    val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType),
      StructField("quality", DoubleType)))
    lake.createTableAs(ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartition(CorpusFiles), "main.corpus")
  }

  /** The pipeline up to its verified pairs, over the exact-dedup survivors. */
  private def pairs(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val exact = Dedup.exactDedup(docs, "text", "id")
    val candidates = Dedup.minhashCandidates(exact, "text", "id")
    (exact, candidates, Dedup.verifyJaccard(candidates, exact, "text", "id", Threshold))
  }

  def cycle(ctx: Ctx, c: Int): Unit = {
    val t = ctx.tracer
    // the warm-up pass keeps its verified pairs cached for the checks,
    // so they need not be recomputed
    val warmUp = expectedSurvivors.isEmpty
    var checked: (DataFrame, DataFrame) = null
    ctx.op("pass") {
      t.traced(Layers.catalogCalls(t, lake, "main.corpus", None))
      val docs = t.span("scan.build")(lake.table("main.corpus"))
      val survivors = t.span("dedup.build") {
        val (exact, candidates, verified) = pairs(docs)
        if (warmUp) {
          checked = (candidates, verified)
          verified.queryExecution.executedPlan // planned before the cache replaces it
          verified.persist()
        }
        val keep = Dedup.keepBestPerCluster(verified, exact, "id", col("quality"))
        exact.join(keep, Seq("id"), "left_semi")
      }
      t.span("dedup.exec")(lake.createTableAs(survivors, "main.survivors"))
    }
    if (warmUp) {
      checkPairs(ctx, checked._1, checked._2)
      checked._2.unpersist()
    }

    // the corpus read is a word-frequency aggregate over every document,
    // so scan and aggregation work outweigh the per-query overhead
    val wordsQ = (d: DataFrame) => d.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().agg(count(lit(1)), max("count"), sum(col("count") * col("count")))
    val wordsSql = "SELECT count(1), max(n), sum(n * n) FROM (SELECT w, count(1) AS n FROM " +
      s"(SELECT explode(split(text, ' ')) AS w FROM $alias.main.corpus) GROUP BY w)"
    val outQ = (d: DataFrame) => d.agg(count(lit(1)), sum("id"))
    val outWant = Seq(Row(expectedSurvivors.size.toLong, expectedSurvivors.sum))
    val reads = Seq(("corpus", wordsQ, wordsSql, corpus.wordStats),
      ("survivors", outQ, s"SELECT count(1), sum(id) FROM $alias.main.survivors", outWant))
    for ((name, q, sql, want) <- reads) {
      val df = ctx.dfRead(name, lake, s"main.$name")(q)
      val s = ctx.sqlRead(name, sql)
      ctx.check(Compare.rows(df.toSeq, want),
        s"pipeline_dedup $name DataFrame: got ${Compare.show(df.toSeq)}, want ${Compare.show(want)}")
      ctx.check(Compare.rows(s.toSeq, want),
        s"pipeline_dedup $name SQL: got ${Compare.show(s.toSeq)}, want ${Compare.show(want)}")
    }
  }

  /** Untimed, once per run: check the warm-up pass's verified pairs
    * against the planted duplicates and the true Jaccard of each pair
    * (plain Scala sets), derive the survivors the pass must keep, and
    * check the output table holds exactly those.
    */
  private def checkPairs(ctx: Ctx, candidates: DataFrame, verified: DataFrame): Unit = {
    val got = verified.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    if (ctx.tracer.enabled) {
      val nCandidates = candidates.count()
      val sortAggs = verified.queryExecution.executedPlan.toString.split("\n")
        .count(_.contains("SortAggregate"))
      pairStats = Map("dedup.candidates" -> nCandidates.toDouble,
        "dedup.verified_pairs" -> got.length.toDouble,
        "dedup.candidate_yield" -> got.length.toDouble / math.max(1L, nCandidates),
        "dedup.sort_aggregates" -> sortAggs.toDouble)
    }

    val text = corpus.docs.map(d => d._1 -> d._2).toMap
    val bad = got.filter { case (a, b) => Corpus.jaccard(text(a), text(b)) < Threshold - 1e-9 }
    ctx.check(bad.isEmpty, s"pipeline_dedup: ${bad.length} reported pairs below the threshold, " +
      s"e.g. ${bad.take(3).mkString(", ")}")
    val found = got.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val eligible = corpus.near.filter { case (a, b) => Corpus.jaccard(text(a), text(b)) >= Threshold }
    val recall = eligible.count(found).toDouble / math.max(1, eligible.size)
    ctx.check(recall >= 0.9, f"pipeline_dedup: near-duplicate recall $recall%.3f < 0.9 " +
      s"over ${eligible.size} planted pairs")

    // the negative control drops one planted exact duplicate from the expectation
    val exactCopies = (if (ctx.inject) corpus.exact.drop(1) else corpus.exact).map(_._2).toSet
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    found.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val quality = corpus.docs.map(d => d._1 -> d._3).toMap
    expectedSurvivors = corpus.docs.map(_._1).filterNot(exactCopies).groupBy(find).values
      .map(_.maxBy(id => (quality(id), -id))).toSet

    val out = lake.table("main.survivors").select("id").collect().map(_.getLong(0)).toSet
    ctx.check(corpus.exact.forall { case (_, copy) => !out(copy) },
      "pipeline_dedup: a planted exact duplicate survived")
    ctx.check(out == expectedSurvivors,
      s"pipeline_dedup: output holds ${out.size} ids, expected ${expectedSurvivors.size}; " +
        s"unexpected ${out.diff(expectedSurvivors).take(5)}, missing ${expectedSurvivors.diff(out).take(5)}")
  }

  def taxReads(ctx: Ctx): Seq[TaxRead] = {
    val files = lake.listFilesAt("corpus").select("data_file").collect().map(_.getString(0))
    val q = (d: DataFrame) => d.agg(count(lit(1)), sum(length(col("text"))), sum("quality"))
    Seq(TaxRead("agg_corpus", () => q(lake.table("main.corpus")),
      s"SELECT count(1), sum(length(text)), sum(quality) FROM $alias.main.corpus",
      () => q(ctx.spark.read.parquet(files.toIndexedSeq: _*))))
  }

  override def extraMetrics(ctx: Ctx): Seq[(String, Double, String)] =
    Seq(("dedup_pass_ms", Stats.median(ctx.samples.getOrElse("pass",
      mutable.ArrayBuffer.empty[Double]).toSeq), "ms"))

  override def layerCounts(ctx: Ctx): Map[String, Double] = pairStats
}

/** A generated corpus: (id, text, quality) documents with planted exact
  * copies and planted near copies, as (original id, copy id) pairs.
  */
final case class Corpus(docs: Seq[(Long, String, Double)], exact: Seq[(Long, Long)],
    near: Seq[(Long, Long)]) {
  /** The corpus read's expected row, computed on the driver: distinct
    * words, the largest word count, and the sum of squared word counts.
    */
  lazy val wordStats: Seq[Row] = {
    val n = docs.flatMap(_._2.split(' ')).groupBy(identity).values.map(_.size.toLong)
    Seq(Row(n.size.toLong, n.max, n.map(c => c * c).sum))
  }
}

object Corpus {
  def generate(seed: Long): Corpus = {
    import PipelineDedup._
    val rng = new scala.util.Random(seed)
    val vocab = Iterator.continually(
      Iterator.fill(3 + rng.nextInt(6))(('a' + rng.nextInt(26)).toChar).mkString)
      .distinct.take(Vocabulary).toIndexedSeq
    def words(n: Int) = IndexedSeq.fill(n)(vocab(rng.nextInt(vocab.size)))
    val base = (0 until BaseDocs).map(i => i.toLong -> words(MinWords + rng.nextInt(MaxWords - MinWords)))
    val sources = rng.shuffle(base.indices.toList)
    val exactSrc = sources.take(ExactCopies)
    val nearSrc = sources.slice(ExactCopies, ExactCopies + NearCopies)
    var next = BaseDocs.toLong
    val exact = exactSrc.map { i => next += 1; (base(i)._1, next - 1, base(i)._2) }
    val near = nearSrc.map { i =>
      val src = base(i)._2
      var ws = src
      // a substitution can draw the word it replaces; a copy equal to its
      // source is an exact duplicate, so draw the edits again
      while (ws == src) {
        val edited = src.toArray
        (0 until 1 + rng.nextInt(MaxEdits))
          .foreach(_ => edited(rng.nextInt(edited.length)) = vocab(rng.nextInt(vocab.size)))
        ws = edited.toIndexedSeq
      }
      next += 1
      (base(i)._1, next - 1, ws)
    }
    val docs = (base.map { case (id, ws) => (id, ws) } ++ exact.map(e => (e._2, e._3)) ++
      near.map(n => (n._2, n._3))).map { case (id, ws) => (id, ws.mkString(" "), rng.nextDouble()) }
    Corpus(docs, exact.map(e => (e._1, e._2)), near.map(n => (n._1, n._2)))
  }

  /** Exact Jaccard of two documents' word 3-gram sets (the texts are
    * lower-case words joined by single spaces, so splitting on spaces is
    * the pipeline's own tokenization).
    */
  def jaccard(a: String, b: String): Double = {
    def grams(s: String) = s.split(' ').sliding(3).map(_.mkString(" ")).toSet
    val (ga, gb) = (grams(a), grams(b))
    ga.intersect(gb).size.toDouble / ga.union(gb).size
  }
}

object PipelineDedup {
  val BaseDocs = 2000
  val MinWords = 40
  val MaxWords = 80
  val Vocabulary = 4000
  val ExactCopies = 100
  val NearCopies = 100
  /** Word substitutions in a near copy: 1 to 3 change at most 9 of its
    * 3-grams, so most planted pairs stay above the threshold.
    */
  val MaxEdits = 3
  val Threshold = 0.8
  val CorpusFiles = 4
}
