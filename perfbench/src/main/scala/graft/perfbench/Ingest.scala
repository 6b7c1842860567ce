package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.dedup.Dedup
import graft.sim.Ann
import graft.sources.{Sinks, Sources}
import graft.text.Curation

/** `ingest`: a closed loop of document batches over a prebuilt document
  * store, near-dup band index and IVF SQ8 index, each batch followed by
  * the live reads that see it. One operation is one batch:
  *  - a seeded sample of earlier ids deleted from all three artifacts,
  *    and each compacted;
  *  - the curation gate (`Curation.scrubPii` + `gopherKeep`), then the
  *    near-dup probe (`Dedup.incrementalNearDupsIndexed`);
  *  - the survivors appended to all three artifacts;
  *  - then `ApiServer` serves three `_search` token queries and one `_knn`
  *    vector query over what was just written, one request in flight.
  */
final class Ingest(spark: SparkSession, seed: Long, nproc: Int) extends Workload {
  private val corpusN = 150
  private val batchN = 100
  private val deleteN = 10
  private val k = 10
  private var gen: Gen.DocGen = _
  private var corpus: Array[Gen.Doc] = _
  private var dir: Path = _

  sealed trait Query
  case class Tokens(toks: Seq[String]) extends Query
  case class Knn(vec: Array[Float]) extends Query

  /** (live docs the batch deletes first, docs, ids planted as duplicates
    * of live docs, ids copying the docs just deleted, the reads that
    * follow the batch) */
  case class Batch(dels: Seq[Gen.Doc], docs: Seq[Gen.Doc], dups: Set[Long], ofDeleted: Set[Long],
      reads: Seq[Query])

  /** The batch sequence, a function of the seed alone: it never looks at
    * the program's verdicts. Each batch first deletes a sample of the
    * initial corpus that is still live (none once the pool runs low, far
    * beyond the batches a run makes). Planted duplicates (half exact,
    * half with 2% of their words replaced) copy initial-corpus docs that
    * are still live; one near copy of each of five docs the batch deleted
    * tests that a deleted id no longer vetoes anything. */
  private final class Plan(seed: Long, gen: Gen.DocGen, corpus: Array[Gen.Doc]) {
    private val r = Gen.rng(seed, "batches")
    private val pool = mutable.ArrayBuffer.from(corpus.indices)
    private var nextId = corpusN.toLong
    var batchNo = 0

    def next(): Batch = {
      batchNo += 1
      val dels =
        if (pool.size < corpusN / 3) Nil
        else (0 until deleteN).map(_ => corpus(pool.remove(r.nextInt(pool.size))))
      val docs = mutable.ArrayBuffer.empty[Gen.Doc]
      val dups = mutable.Set.empty[Long]
      val ofDeleted = mutable.Set.empty[Long]
      def id(): Long = { nextId += 1; nextId }
      (0 until batchN / 10).foreach(_ => docs += gen.junk(r, id()))
      (0 until batchN / 10).foreach { i =>
        val src = corpus(pool(r.nextInt(pool.size)))
        val d = gen.nearCopy(r, src, id(), if (i % 2 == 0) 0.0 else 0.02)
        docs += d; dups += d.id
      }
      dels.take(5).foreach { src =>
        val d = gen.nearCopy(r, src, id(), 0.02)
        docs += d; ofDeleted += d.id
      }
      while (docs.size < batchN) docs += gen.doc(r, id())
      val reads = Gen.shuffled(r, Array[Query](Knn(gen.vector(r))) ++
        Array.fill[Query](3)(Tokens(Seq.fill(1 + r.nextInt(3))(gen.token(r)).distinct)))
      Batch(dels, Gen.shuffled(r, docs.toArray).toSeq, dups.toSet, ofDeleted.toSet, reads.toSeq)
    }
  }

  /** The corpus for seed `s`, and the digest of it and of the first
    * batches of its plan. */
  private def generate(s: Long): (Gen.DocGen, Array[Gen.Doc], String) = {
    val g = new Gen.DocGen(s)
    val r = Gen.rng(s, "corpus")
    val c = Array.tabulate(corpusN)(i => g.doc(r, i.toLong))
    val dg = new Gen.Digest
    Gen.digestDocs(c, dg)
    val p = new Plan(s, g, c)
    (0 until 4).foreach { _ =>
      val b = p.next()
      dg.add(b.dels.map(_.id).mkString(","))
      Gen.digestDocs(b.docs, dg)
      b.reads.foreach {
        case Tokens(ts) => dg.add(ts.mkString(" "))
        case Knn(v) => dg.add(v.mkString(","))
      }
    }
    (g, c, dg.hex)
  }

  def digest(s: Long): String = generate(s)._3

  private def writeDocs(docs: Seq[Gen.Doc], to: String): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.tokens.toSeq, d.vec.toSeq)).toDF("id", "text", "tokens", "vec")
      .repartition(nproc).write.mode("overwrite").parquet(to)
  }

  def setup(d: Path): String = {
    dir = d
    val (g, c, digest) = generate(seed)
    gen = g; corpus = c
    writeDocs(corpus.toSeq, s"$d/corpus")
    val df = spark.read.parquet(s"$d/corpus")
    Sinks.indexed(df, s"$d/art/docs", Some("id"), "tokens")
    Dedup.writeNearDupIndex(df, "id", "text", s"$d/art/neardup")
    Ann.writeIvfIndex(df, "id", "vec", s"$d/art/ann", quantize = true)
    digest
  }

  /** One loop over its own copy of the artifacts. */
  private final class Loop(art: String, tag: String, rep: Report, trace: Option[Tracer]) {
    val plan = new Plan(seed, gen, corpus)
    private val api = new Api(spark, s"$art/docs", s"$art/ann", k)
    /** the live documents, and their token document frequencies */
    private val live = mutable.LinkedHashMap.from(corpus.map(d => d.id -> d))
    private val df = mutable.HashMap.empty[String, Int]
    corpus.foreach(d => d.tokens.distinct.foreach(t => df(t) = df.getOrElse(t, 0) + 1))

    // timed operations only
    val lat = mutable.ArrayBuffer.empty[Double]
    /** (kind, ms, start epoch ms, end epoch ms) per timed request */
    val requests = mutable.ArrayBuffer.empty[(String, Double, Long, Long)]
    val reads = mutable.ArrayBuffer.empty[Query]
    var docsIn = 0L; var gated = 0L; var flagged = 0L
    var plantedGated = 0L; var plantedFlagged = 0L
    val knnRecall = mutable.ArrayBuffer.empty[Double]

    private def span[T](name: String)(body: => T): T = trace match {
      case Some(t) => t.trace(name)(body)
      case None => body
    }
    private def outside[T](body: => T): T = trace match {
      case Some(t) => t.outside(body)
      case None => body
    }

    /** One batch and its reads; `timed` ones count in the metrics. */
    def op(timed: Boolean): Unit = {
      val b = plan.next()
      val bdir = s"$dir/batches/$tag-${plan.batchNo}"
      outside(writeDocs(b.docs, bdir))
      rep.attempted += 1 + b.reads.size
      try {
        val t0 = System.nanoTime()
        if (b.dels.nonEmpty) {
          import spark.implicits._
          val ids = b.dels.map(_.id).toDF("id")
          span("sources.delete") { Sinks.deleteFromIndexed(ids, "id", s"$art/docs") }
          span("dedup.delete") { Dedup.deleteFromNearDupIndex(ids, "id", s"$art/neardup") }
          span("sim.delete") { Ann.deleteFromIvfIndex(ids, "id", s"$art/ann") }
          span("sources.compact") { Sinks.compactIndexed(spark, s"$art/docs") }
          span("dedup.compact") { Dedup.compactNearDupIndex(spark, s"$art/neardup") }
          span("sim.compact") { Ann.compactIvfIndex(spark, s"$art/ann") }
        }
        val gate = span("text.gate") {
          val g = spark.read.parquet(bdir)
            .withColumn("text", Curation.scrubPii(col("text")))
            .filter(Curation.gopherKeep(col("text")))
            .persist(StorageLevel.MEMORY_AND_DISK)
          if (trace.isDefined) g.count()
          g
        }
        val verdicts = span("dedup.probe") {
          Dedup.incrementalNearDupsIndexed(gate, s"$art/neardup", "id", "text")
            .select("id", "kept").collect().map(r => r.getLong(0) -> r.getBoolean(1))
        }
        val keptIds = verdicts.collect { case (i, true) => i }
        val survivors = gate.filter(col("id").isin(keptIds.toSeq: _*))
        span("sources.append") { Sinks.indexed(survivors, s"$art/docs", Some("id"), "tokens", mode = "append") }
        span("dedup.append") { Dedup.appendToNearDupIndex(survivors, "id", "text", s"$art/neardup") }
        span("sim.append") { Ann.appendIvfIndex(survivors, "id", "vec", s"$art/ann") }
        outside(gate.unpersist())
        b.dels.foreach { d => live.remove(d.id); d.tokens.distinct.foreach(t => df(t) -= 1) }
        val byId = b.docs.map(d => d.id -> d).toMap
        keptIds.foreach { i => val d = byId(i); live(i) = d; d.tokens.distinct.foreach(t => df(t) = df.getOrElse(t, 0) + 1) }
        val replies = b.reads.map { q =>
          val kind = q match { case _: Tokens => "api.search"; case _ => "api.knn" }
          val a = System.currentTimeMillis()
          val t = System.nanoTime()
          val res = trace match {
            case Some(tr) => tr.window(kind)(send(q))
            case None => send(q)
          }
          if (timed) requests += ((kind, (System.nanoTime() - t) / 1e6, a, System.currentTimeMillis()))
          q -> res
        }
        val ms = (System.nanoTime() - t0) / 1e6
        rep.progress(f"$tag batch ${plan.batchNo} took $ms%.0f ms")
        outside {
          check(b, verdicts, replies)
          rep.progress(s"$tag batch ${plan.batchNo} checked")
          if (timed) {
            lat += ms
            reads ++= b.reads
            docsIn += b.docs.size; gated += verdicts.length
            val flaggedIds = verdicts.collect { case (i, false) => i }.toSet
            flagged += flaggedIds.size
            plantedGated += b.dups.count(verdicts.map(_._1).toSet)
            plantedFlagged += b.dups.count(flaggedIds)
          }
        }
      } catch { case e: Exception => rep.fail(s"ingest batch ${plan.batchNo}: $e") }
    }

    private def send(q: Query): scala.util.Try[(Int, Seq[Long])] = scala.util.Try(q match {
      case Tokens(ts) => api.search(ts)
      case Knn(v) => api.knn(v)
    })

    /** The `_search` contract over the live documents: documents holding
      * any query token, scored by the sum of log((N+1)/(df+1))+1 over the
      * tokens they hold, rounded to four places, best first, ties by id. */
    private def idfTopK(ts: Seq[String]): Seq[Long] = {
      val n = live.size.toDouble
      val w = ts.map(t => t -> (math.log((n + 1) / (df.getOrElse(t, 0) + 1)) + 1)).toMap
      live.valuesIterator.map(d => d.id -> ts.filter(d.tokens.contains).map(w).sum)
        .filter(_._2 > 0)
        .map { case (i, s) => (BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP), i) }
        .toSeq.sortBy { case (s, i) => (-s, i) }.take(k).map(_._2)
    }

    private def exactKnn(v: Array[Float]): Set[Long] =
      live.valuesIterator.map(d => d.id -> d.vec.indices.map(i => d.vec(i).toDouble * v(i)).sum)
        .toSeq.sortBy(-_._2).take(k).map(_._1).toSet

    /** Output checks of one batch, each failing the batch: every
      * manifest's row total is rows appended minus rows deleted; a copy
      * of a doc the batch deleted is never flagged; neither the document
      * store nor an IVF probe with the deleted docs' own vectors surfaces
      * a deleted id; every read answers 200; the first `_search` of each
      * batch equals the IDF ranking the benchmark computes itself; `_knn`
      * returns k ids, scored for recall@k against brute force. */
    private def check(b: Batch, verdicts: Array[(Long, Boolean)],
        replies: Seq[(Query, scala.util.Try[(Int, Seq[Long])])]): Unit = {
      val problems = mutable.ArrayBuffer.empty[String]
      Seq(
        "docs" -> Sinks.readIndexedManifest(spark, s"$art/docs").map(_._1),
        "neardup" -> Dedup.readNearDupManifest(spark, s"$art/neardup").map(_._4),
        "ann" -> Ann.readManifest(spark, s"$art/ann").map(_.rows)).foreach { case (a, n) =>
        if (!n.contains(live.size.toLong)) problems += s"$a manifest rows $n, expected ${live.size}"
      }
      val vetoed = verdicts.collect { case (i, false) if b.ofDeleted(i) => i }
      if (vetoed.nonEmpty) problems += s"copies of deleted docs flagged: ${vetoed.mkString(",")}"
      if (b.dels.nonEmpty) {
        import spark.implicits._
        val gone = b.dels.map(_.id).toSet
        val inStore = Sources.indexedTable(spark, s"$art/docs", "docs")
          .filter(col("_id").isin(gone.toSeq: _*)).count()
        val q = b.dels.map(d => (d.id, d.vec.toSeq)).toDF("qid", "qv")
        val nn = Ann.ivfIndexTopKAuto(spark, s"$art/ann", q, "qid", "qv", k, excludeSelf = false)
          .select("neighbor_id").collect().map(_.getLong(0)).count(gone)
        if (inStore > 0 || nn > 0) problems += s"deleted ids surfaced (store $inStore, ann $nn)"
      }
      if (problems.nonEmpty) rep.fail(s"ingest batch ${plan.batchNo}: ${problems.mkString("; ")}")
      var oracleDone = false
      replies.foreach {
        case (q, scala.util.Success((200, ids))) => q match {
          case Tokens(ts) =>
            if (!oracleDone) {
              oracleDone = true
              if (ids != idfTopK(ts)) rep.fail(s"ingest batch ${plan.batchNo}: _search ${ts.mkString(" ")} differs from the IDF ranking")
            }
          case Knn(v) =>
            if (ids.size != k) rep.fail(s"ingest batch ${plan.batchNo}: _knn returned ${ids.size} of $k")
            else knnRecall += ids.count(exactKnn(v)).toDouble / k
        }
        case (_, other) => rep.fail(s"ingest batch ${plan.batchNo}: read failed: $other")
      }
    }

    def liveRows: Long = live.size.toLong
    def close(): Unit = api.close()
  }

  /** One untimed, checked warm-up batch, so that the timed batches do not
    * pay first-use compilation of the batch and read paths; then timed
    * batches for `seconds` (at least one). */
  def measure(seconds: Double, rep: Report): Unit = {
    val loop = new Loop(s"$dir/art", "m", rep, None)
    try {
      loop.op(timed = false)
      val t0 = System.nanoTime()
      do loop.op(timed = true) while ((System.nanoTime() - t0) / 1e9 < seconds)
      if (loop.lat.isEmpty) return
      rep.metric("rows_per_s", loop.docsIn / (loop.lat.sum / 1000), "1/s")
      rep.metric("p50_ms", Stats.median(loop.lat.toSeq), "ms")
      rep.metric("recall", loop.plantedFlagged.toDouble / math.max(1L, loop.plantedGated), "ratio")
      rep.metric("precision", loop.plantedFlagged.toDouble / math.max(1L, loop.flagged), "ratio")
      rep.note("ops", loop.lat.size)
      rep.note("op_ms", loop.lat.map(t => f"$t%.0f").mkString("[", ", ", "]"))
    } finally loop.close()
  }

  /** A warm-up batch and untraced batches for half the time; then, on a
    * copy of the artifacts as set up, as many batches traced (the same
    * plan from its start: batches of the same make-up, the code already
    * warm); then the traced run's reads replayed as direct calls to the
    * two module functions the routes open with. */
  def traced(seconds: Double, rep: Report, tr: Tracer): Unit = {
    copyTree(Path.of(s"$dir/art"), Path.of(s"$dir/art-traced"))
    val plain = new Loop(s"$dir/art", "u", rep, None)
    try {
      plain.op(timed = false)
      tr.drain(); tr.listener.reset()
      val t0 = System.nanoTime()
      do plain.op(timed = true) while ((System.nanoTime() - t0) / 1e9 < seconds / 2)
      tr.drain()
      requestTower(plain.requests.toSeq, tr.listener.jobIntervals.toSeq, rep)
    } finally plain.close()
    val loop = new Loop(s"$dir/art-traced", "t", rep, Some(tr))
    try {
      tr.pass(plain.lat.sum) { plain.lat.indices.foreach(_ => loop.op(timed = true)) }
      tr.extend {
        import spark.implicits._
        loop.reads.foreach {
          case Tokens(_) =>
            tr.trace("sources.open") { Sources.indexedTables(spark, s"$dir/art-traced/docs", Seq("postings", "docs")) }
          case Knn(v) =>
            val q = Seq((0L, v.toSeq)).toDF("query_id", "__q")
            tr.trace("sim.probe") {
              Ann.ivfIndexTopKAuto(spark, s"$dir/art-traced/ann", q, "query_id", "__q", k, excludeSelf = false).collect()
            }
        }
      }
      rep.metric("text.keep_ratio", loop.gated.toDouble / loop.docsIn, "ratio")
      rep.metric("dedup.flag_ratio", loop.flagged.toDouble / math.max(1L, loop.gated), "ratio")
      rep.metric("sim.knn_recall", if (loop.knnRecall.isEmpty) 0.0 else loop.knnRecall.sum / loop.knnRecall.size, "ratio")
      artifactStats(s"$dir/art-traced", loop.liveRows, rep)
    } finally loop.close()
  }

  /** Per-request job tower of the untraced requests: Spark jobs started
    * inside each request's window, their tasks, and the request time not
    * covered by any job. */
  private def requestTower(reqs: Seq[(String, Double, Long, Long)],
      jobs: Seq[(Long, Long, Int)], rep: Report): Unit = {
    var nJobs = 0L; var nTasks = 0L; var overhead = 0.0
    reqs.foreach { case (_, _, a, b) =>
      val in = jobs.filter { case (s, _, _) => s >= a && s <= b }
      nJobs += in.size; nTasks += in.map(_._3.toLong).sum
      overhead += (b - a) - unionMs(in.map { case (s, e, _) => (s, math.min(e, b)) })
    }
    val n = math.max(1, reqs.size)
    rep.metric("api.jobs_per_req", nJobs.toDouble / n, "count")
    rep.metric("api.tasks_per_req", nTasks.toDouble / n, "count")
    rep.metric("api.overhead_ms", overhead / n, "ms")
    Seq("api.search", "api.knn").foreach { kind =>
      val ms = reqs.collect { case (`kind`, m, _, _) => m }
      rep.metric(s"${kind}_p50_ms", if (ms.isEmpty) 0.0 else Stats.median(ms), "ms")
    }
  }

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var covered = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered.toDouble
  }

  private def artifactStats(art: String, live: Long, rep: Report): Unit =
    Seq("sources" -> "docs", "dedup" -> "neardup", "sim" -> "ann").foreach { case (layer, a) =>
      val files = Files.walk(Path.of(s"$art/$a")).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      rep.metric(s"$layer.files", files.count(_.getFileName.toString.endsWith(".parquet")), "count")
      rep.metric(s"$layer.bytes_per_row", files.map(Files.size(_)).sum.toDouble / live, "B")
    }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
}
