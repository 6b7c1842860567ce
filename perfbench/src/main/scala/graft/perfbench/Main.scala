package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.GraftSparkBridge
import org.apache.spark.sql.SparkSession
import graft.Tables

/** One benchmark workload. */
trait Workload {
  /** Generates the seeded inputs under `dir` and builds what the
    * workload serves from; returns the digest of the inputs. */
  def setup(dir: Path): String
  /** The input digest another seed would give, without building. */
  def digest(seed: Long): String
  /** Untraced measurement for `seconds`: end-to-end metrics. */
  def measure(seconds: Double, rep: Report): Unit
  /** Untraced then traced passes over the same work: layer metrics. */
  def traced(seconds: Double, rep: Report, tr: Tracer): Unit
}

/** The traced run's bookkeeping around [[Trace]] and [[JobListener]]. */
final class Tracer(spark: SparkSession, val listener: JobListener, runId: String,
    spansFile: Path) {
  val trace = new Trace(spark, runId)
  private var outsideNs = 0L
  private var passNs = 0L
  private var extendNs = 0L
  private var untracedMs = 0.0

  def drain(): Unit = GraftSparkBridge.drainListenerBus(spark.sparkContext)

  /** The traced pass compared with an untraced pass of the same work
    * that took `untracedMs`; the difference is the tracing overhead. */
  def pass(untraced: Double)(body: => Unit): Unit = {
    drain(); listener.reset()
    untracedMs = untraced
    passNs = timed(body)
  }

  /** More traced work after the pass, outside the overhead comparison. */
  def extend(body: => Unit): Unit = extendNs = timed(body)

  private def timed(body: => Unit): Long = {
    val o0 = outsideNs
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) - (outsideNs - o0)
  }

  /** Benchmark-side work (output checks, input staging) inside a traced
    * pass: excluded from the traced wall time and from every counter. */
  def outside[T](body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.SpanKey, Trace.Ignored.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      outsideNs += System.nanoTime() - t0
      sc.setLocalProperty(Trace.SpanKey, prev)
    }
  }

  /** A span for a call whose Spark jobs run on threads the benchmark
    * does not own (the API server's handlers): its jobs are attributed
    * by time window, which is exact while one request is in flight. */
  def window[T](name: String)(body: => T): T = trace(name) {
    listener.openWindow(trace.spans.last.id)
    try body finally listener.closeWindow()
  }

  /** Per-layer metrics of the traced run: every span of `layers` (zero
    * when the workload does not cross it), the run totals, the
    * unattributed remainder and the tracing overhead. */
  def report(layers: Seq[String], rep: Report): Unit = {
    drain()
    val self = trace.selfMsByName
    val byName = trace.spans.groupBy(_.name).map { case (n, ss) =>
      val cs = ss.flatMap(s => listener.bySpan.get(s.id))
      n -> cs
    }
    layers.foreach { l =>
      val cs = byName.getOrElse(l, Nil)
      rep.metric(s"$l.self_ms", self.getOrElse(l, 0.0), "ms")
      rep.metric(s"$l.jobs", cs.map(_.jobs).sum.toDouble, "count")
      rep.metric(s"$l.shuffle_mb", cs.map(_.shuffleBytes).sum / 1048576.0, "MB")
      rep.metric(s"$l.spill_mb", cs.map(_.spillBytes).sum / 1048576.0, "MB")
    }
    val unknown = self.keySet -- layers
    require(unknown.isEmpty, s"spans missing from the layer list: $unknown")
    val wallMs = (passNs + extendNs) / 1e6
    val t = listener.total
    rep.metric("spark.tasks", t.tasks.toDouble, "count")
    rep.metric("spark.cpu_s", t.cpuNs / 1e9, "s")
    rep.metric("spark.gc_ms", t.gcMs.toDouble, "ms")
    rep.metric("spark.task_skew", listener.taskSkew, "ratio")
    rep.metric("trace.wall_ms", wallMs, "ms")
    rep.metric("trace.unattributed_ms", wallMs - self.values.sum, "ms")
    rep.metric("trace.overhead_ms", passNs / 1e6 - untracedMs, "ms")
    trace.write(spansFile)
  }
}

object Main {
  /** Every span the workloads record; each traced run reports all of
    * them, so a layer a workload does not cross reads zero. */
  val layers: Seq[String] = Seq(
    "sources.read", "pipeline.dataprep", "operators.topk", "pipeline.score",
    "graph.components", "sources.write",
    "text.gate", "dedup.probe",
    "sources.append", "dedup.append", "sim.append",
    "sources.delete", "dedup.delete", "sim.delete",
    "sources.compact", "dedup.compact", "sim.compact",
    "api.search", "api.knn", "sources.open", "sim.probe")

  /** Layer metrics that are not span counters, per workload that
    * records them; the others report zero. */
  val extraLayerMetrics: Seq[(String, String)] = Seq(
    "operators.kept_ratio" -> "ratio", "pipeline.accept_ratio" -> "ratio",
    "text.keep_ratio" -> "ratio", "dedup.flag_ratio" -> "ratio",
    "sources.files" -> "count", "sources.bytes_per_row" -> "B",
    "dedup.files" -> "count", "dedup.bytes_per_row" -> "B",
    "sim.files" -> "count", "sim.bytes_per_row" -> "B",
    "sim.knn_recall" -> "ratio",
    "api.jobs_per_req" -> "count", "api.tasks_per_req" -> "count", "api.overhead_ms" -> "ms",
    "api.search_p50_ms" -> "ms", "api.knn_p50_ms" -> "ms")

  val setups = 3

  /** Exits explicitly: the API server's threads would otherwise keep a
    * failed run's JVM alive. */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") match {
      case "0" => false
      case "1" => true
      case other => sys.error(s"--trace must be 0 or 1, got $other")
    }
    val work = Path.of(opt("work")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = Tables.session(master = s"local[$nproc]", app = "perfbench")
    val rep = new Report
    val w: Workload = workload match {
      case "linkage" => new Linkage(spark, seed, nproc)
      case "ingest" => new Ingest(spark, seed, nproc)
      case other => sys.error(s"unknown workload $other (linkage, ingest)")
    }
    val listener = new JobListener
    try {
      // the untraced run sets up several times and reports the median;
      // the digests are the generator self-check (same seed, same inputs;
      // another seed, other inputs)
      val runs = (1 to (if (traced) 1 else setups)).map { i =>
        val d = work.resolve(s"setup-$i")
        val t0 = System.nanoTime()
        val digest = w.setup(d)
        val secs = (System.nanoTime() - t0) / 1e9
        rep.progress(f"set-up $i took $secs%.2f s")
        (secs, digest)
      }
      val digests = runs.map(_._2).distinct
      if (digests != Seq(w.digest(seed))) rep.fail(s"generator: seed $seed gave different inputs")
      if (w.digest(seed + 1) == digests.head) rep.fail(s"generator: seeds $seed and ${seed + 1} gave the same inputs")
      rep.note("workload", workload)
      rep.note("seed", seed)
      rep.note("input_digest", digests.head.take(16))
      rep.note("setup_samples_s", runs.map(_._1).mkString("[", ", ", "]"))
      if (traced) spark.sparkContext.addSparkListener(listener)
      // host-load disclosure: cores kept busy by other processes while
      // this run measures, sampled in half-second slices; reported only
      val busy = collection.mutable.ArrayBuffer.empty[Double]
      @volatile var measuring = true
      val ext = new Thread(() => while (measuring) {
        val b = graft.Bench.externalBusyCores(500)
        busy.synchronized(busy += b)
      })
      ext.setDaemon(true)
      ext.start()
      if (!traced) {
        rep.metric("setup_s", Stats.median(runs.map(_._1)), "s")
        w.measure(seconds, rep)
      } else {
        val tr = new Tracer(spark, listener, s"$workload-$seed",
          work.getParent.resolveSibling("traces").resolve(s"$workload-$seed.spans.jsonl"))
        w.traced(seconds, rep, tr)
        extraLayerMetrics.foreach { case (m, u) => if (!rep.metrics.contains(m)) rep.metric(m, 0.0, u) }
        tr.report(layers, rep)
      }
      measuring = false
      ext.join()
      busy.synchronized {
        if (busy.nonEmpty) {
          rep.note("ext_busy_cores_mean", busy.sum / busy.size)
          rep.note("ext_busy_cores_max", busy.max)
        }
      }
      if (!traced) {
        val ok = rep.attempted - rep.failed
        rep.metric("ok_frac", ok.toDouble / math.max(1L, rep.attempted), "ratio")
        rep.metric("peak_rss_mb", Stats.peakRssMb(), "MB")
      }
    } finally spark.stop()
    rep.lines.foreach(println)
  }
}
