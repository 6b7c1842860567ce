package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.MatchJoin
import graft.pipeline.Matching
import graft.sources.{Sinks, Sources}

/** `linkage`: batch record linkage of generated persons against a
  * perturbed registry, `dataprep` → `matchBest(k = 5, fuzzy = true)` →
  * `clusters`, results written as parquet. One operation is one full
  * pipeline run over the whole input. */
final class Linkage(spark: SparkSession, seed: Long, nproc: Int) extends Workload {
  private val persons = 1600
  private var data: Gen.PersonData = _
  private var dir: Path = _
  private var runs = 0

  /** Recall and precision floors of the output check: far enough below
    * what a correct pipeline reaches on every seed that only a broken
    * match, score or decision step trips them. */
  private val minRecall = 0.75
  private val minPrecision = 0.70

  def digest(s: Long): String = Gen.persons(s, persons).digest

  def setup(d: Path): String = {
    dir = d
    data = Gen.persons(seed, persons)
    import spark.implicits._
    def write(ps: Array[Gen.Person], to: String): Unit =
      ps.toSeq.map(p => (p.pid, p.first, p.last, p.birth, p.city))
        .toDF("pid", "first_name", "last_name", "birth_str", "city")
        .repartition(nproc).write.mode("overwrite").parquet(s"$d/$to")
    write(data.left, "left")
    write(data.registry, "registry")
    data.digest
  }

  private def prep(df: DataFrame) =
    Matching.dataprep(df, "pid", "first_name", "last_name", "birth_str", "city")

  private val outCols = Seq("matchid_id", "hit_matchid_id", "matchid_hit_score", "confiance")

  /** One untraced pipeline run; returns its wall time in ms. */
  private def pipeline(out: String): Double = {
    val t0 = System.nanoTime()
    val left = prep(Sources.parquet(spark, s"$dir/left"))
    val right = prep(Sources.parquet(spark, s"$dir/registry"))
    val best = Matching.matchBest(left, right, k = 5, fuzzy = true)
    Sinks.parquet(best.select(outCols.map(col): _*), s"$out/best")
    Sinks.parquet(Matching.clusters(spark.read.parquet(s"$out/best")), s"$out/clusters")
    (System.nanoTime() - t0) / 1e6
  }

  private case class Quality(recall: Double, precision: Double)

  /** Output check: the written pairs against the planted truth, and the
    * written clusters against the written pairs. */
  private def check(out: String, rep: Report): Option[Quality] = {
    val pairs = spark.read.parquet(s"$out/best").select("matchid_id", "hit_matchid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val comp = spark.read.parquet(s"$out/clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tp = pairs.count { case (l, h) => data.truth.get(l).contains(h) }
    val q = Quality(tp.toDouble / data.truth.size, tp.toDouble / math.max(1, pairs.length))
    val lefts = pairs.map(_._1)
    val problems = Seq(
      (lefts.distinct.length != lefts.length) -> "a left person has more than one best match",
      (q.recall < minRecall) -> f"recall ${q.recall}%.4f below $minRecall",
      (q.precision < minPrecision) -> f"precision ${q.precision}%.4f below $minPrecision",
      pairs.exists { case (l, h) => !comp.contains(l) || comp.get(l) != comp.get(h) } ->
        "a matched pair is split across clusters")
      .collect { case (true, why) => why }
    problems.foreach(p => rep.fail(s"linkage: $p"))
    if (problems.isEmpty) Some(q) else None
  }

  private def outDir(): String = { runs += 1; s"$dir/out-$runs" }

  /** One checked pipeline run: its time and output quality, or None
    * when it failed. */
  private def op(rep: Report): Option[(Double, Quality)] = {
    val out = outDir()
    rep.attempted += 1
    try {
      val ms = pipeline(out)
      rep.progress(f"pipeline run took $ms%.0f ms")
      check(out, rep).map(ms -> _)
    } catch { case e: Exception => rep.fail(s"linkage run: $e"); None }
  }

  def measure(seconds: Double, rep: Report): Unit = {
    val times = collection.mutable.ArrayBuffer.empty[Double]
    val qs = collection.mutable.ArrayBuffer.empty[Quality]
    val t0 = System.nanoTime()
    do op(rep).foreach { case (ms, q) => times += ms; qs += q }
    while ((System.nanoTime() - t0) / 1e9 < seconds)
    if (times.isEmpty) return
    val timed = times.sum
    rep.metric("rows_per_s", persons * times.size / (timed / 1000), "1/s")
    rep.metric("p50_ms", Stats.median(times.toSeq), "ms")
    rep.note("ops", times.size)
    rep.note("op_ms", times.map(t => f"$t%.0f").mkString("[", ", ", "]"))
    rep.metric("recall", Stats.median(qs.map(_.recall).toSeq), "ratio")
    rep.metric("precision", Stats.median(qs.map(_.precision).toSeq), "ratio")
  }

  /** A warm-up run, untraced runs for half the time, then the same
    * number of traced runs: each public call in its own span, its output
    * materialised at the boundary so the next layer starts from a
    * computed input. */
  def traced(seconds: Double, rep: Report, tr: Tracer): Unit = {
    val untraced = collection.mutable.ArrayBuffer.empty[Double]
    op(rep)
    val t0 = System.nanoTime()
    do op(rep).foreach { case (ms, _) => untraced += ms }
    while ((System.nanoTime() - t0) / 1e9 < seconds / 2)
    var kept = 0.0; var cand = 0.0; var accepted = 0.0; var lefts = 0.0
    tr.pass(untraced.sum) {
      untraced.indices.foreach { _ =>
        val out = outDir()
        rep.attempted += 1
        val t = tr.trace
        def mat(df: DataFrame): DataFrame = { val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p }
        val (l0, r0) = t("sources.read") {
          (mat(Sources.parquet(spark, s"$dir/left")), mat(Sources.parquet(spark, s"$dir/registry")))
        }
        val (l, r) = t("pipeline.dataprep") { (mat(prep(l0)), mat(prep(r0))) }
        val hits = t("operators.topk") {
          mat(MatchJoin.topK(l, r, "matchid_name_tokens", "matchid_name_tokens",
            "matchid_id", "matchid_id", k = 5, fuzzy = true))
        }
        // the decision tail of Matching.matchBest (default threshold),
        // spelled out so it gets its own span; the check below compares
        // the result with matchBest's own output
        val best = t("pipeline.score") {
          val w = Window.partitionBy(col("matchid_id"))
            .orderBy(col("matchid_hit_score").desc, col("hit_matchid_id"))
          mat(Matching.score(hits).filter(col("matchid_hit_score") > 0.1)
            .withColumn("decision_rank", row_number().over(w))
            .filter(col("decision_rank") === 1).drop("decision_rank"))
        }
        val clusters = t("graph.components") { mat(Matching.clusters(best)) }
        t("sources.write") {
          Sinks.parquet(best.select(outCols.map(col): _*), s"$out/best")
          Sinks.parquet(clusters, s"$out/clusters")
        }
        tr.outside {
          kept += hits.count()
          cand += hits.groupBy("matchid_id").agg(first("matchid_hit_matches_unfiltered").as("u"))
            .agg(sum("u")).head().getLong(0)
          accepted += best.select("matchid_id").distinct().count()
          lefts += l.count()
          val ref = spark.read.parquet(s"$dir/out-1/best").select("matchid_id", "hit_matchid_id")
          val got = spark.read.parquet(s"$out/best").select("matchid_id", "hit_matchid_id")
          if (ref.exceptAll(got).count() + got.exceptAll(ref).count() != 0)
            rep.fail("linkage: traced decomposition disagrees with Matching.matchBest")
          Seq(l0, r0, l, r, hits, best, clusters).foreach(_.unpersist())
        }
      }
    }
    rep.metric("operators.kept_ratio", kept / math.max(1.0, cand), "ratio")
    rep.metric("pipeline.accept_ratio", accepted / math.max(1.0, lefts), "ratio")
  }
}
