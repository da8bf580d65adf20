package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One complete pass of a workload, input to result. `check` compares the
  * pass's outputs with the reference and returns how many of its `ops`
  * failed; it runs after the clock stops. */
final case class Pass(wallS: Double, items: Double, itemS: Double, opsMs: Seq[Double],
    diskBytes: Long, ops: Int, check: () => Int, release: () => Unit)

trait Workload {
  /** Generates the inputs into fresh directories (`rep` keeps repeated
    * set-ups apart) and makes them current. */
  def prepare(rep: Int): Unit
  /** Computes the reference outputs every pass is checked against. */
  def reference(): Unit
  def pass(tag: String, tr: Tracer): Pass
  /** An untimed pass that warms the JIT, Spark's codegen caches and the
    * file-system cache before the timed passes; its outputs are checked. */
  def warm(): Pass = pass("warm", Tracer.Off)
  /** The [[Main.Ratios]] this workload measures, from its traced passes;
    * it may also replace layer counters it derives itself. */
  def tracedExtras(layers: mutable.Map[String, Counters]): Map[String, Double] = Map.empty
}

/** Benchmark entry: `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints one JSON line: `{"correct","attempted","failed","metrics"}`. */
object Main {
  val SetupReps = 3

  val Layers: Seq[String] = Seq(
    "Scheduler.runBatch", "Scheduler.deltaScan", "BloomSeen.antiJoinSeen", "Scheduler.schedule",
    "Checkpoints.writeState", "Checkpoints.commitManifest", "Checkpoints.readSnap",
    "Search.saveIndex", "Search.updateIndex", "Search.query", "Search.deleteDocs",
    "Search.compactIndex", "SparkEntry.build", "SparkEntry.action")

  /** Per-layer ratios (unit 1); a workload that never reaches a layer reports 0. */
  val Ratios: Seq[String] = Seq(
    "Checkpoints.writeState.share_delta_scan", "Checkpoints.writeState.share_seen_probe",
    "Checkpoints.writeState.share_rank", "Checkpoints.writeState.share_fetch_parse_write",
    "BloomSeen.antiJoinSeen.fp_ratio", "BloomSeen.antiJoinSeen.new_ratio",
    "Scheduler.schedule.scheduled_ratio", "Search.query.rows_read_per_hit")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def session(work: String): SparkSession = {
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (4 * cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val startS = (System.currentTimeMillis() - jvmStart) / 1e3
    val wl: Workload = name match {
      case "crawl_polite" => new CrawlWork(spark, work)
      case "index_live" => new IndexWork(spark, work, seed)
      case "registry_iter" => new RegistryWork(spark, work, seed)
      case other => sys.error(s"unknown workload $other")
    }
    val setups = (0 until SetupReps).map(r => timed(wl.prepare(r)))
    val setupS = startS + median(setups)
    log(f"session $startS%.2f s, input set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s")
    log(f"reference ${timed(wl.reference())}%.2f s")

    // Passes are timed back to back; their outputs are checked after the
    // last one, and a pass that threw or failed a check is not timed.
    val runs = mutable.ArrayBuffer.empty[(String, Either[Exception, (Pass, Long)])]
    def run(tag: String, tr: Tracer): Unit = {
      runs += tag -> (try {
        val p = if (tag == "warm") wl.warm() else wl.pass(tag, tr)
        log(f"pass $tag ${p.wallS}%.3f s, ${p.items}%.0f items, ${p.opsMs.size} ops")
        Right((p, Heap.liveAfterPass()))
      } catch { case e: Exception => log(s"pass $tag failed: $e"); Left(e) })
    }

    run("warm", Tracer.Off)
    val layers = mutable.Map.empty[String, Counters]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    // A traced run orders its passes plain, traced, traced, plain, ... so
    // that warm-up still in progress favours neither side of the overhead.
    while (i < (if (trace) 4 else 1) || System.nanoTime() < deadline) {
      if (trace && (i % 4 == 1 || i % 4 == 2)) {
        val tr = new SpanTracer(spark)
        tr.attach()
        run(s"t$i", tr)
        tr.detachInto(layers)
      } else run(s"p$i", Tracer.Off)
      i += 1
    }

    var attempted = 0
    var failed = 0
    val plain = mutable.ArrayBuffer.empty[(Pass, Long)]
    val traced = mutable.ArrayBuffer.empty[(Pass, Long)]
    for ((tag, r) <- runs) r match {
      case Left(_) => attempted += 1; failed += 1
      case Right((p, heap)) =>
        val c0 = System.nanoTime()
        val bad =
          try p.check()
          catch { case e: Exception => log(s"check of $tag failed: $e"); p.ops }
        p.release()
        log(f"checked $tag in ${(System.nanoTime() - c0) / 1e9}%.2f s: $bad of ${p.ops} failed")
        attempted += p.ops; failed += bad
        if (bad == 0 && tag != "warm") (if (tag.startsWith("t")) traced else plain) += ((p, heap))
    }

    val metrics = new java.util.LinkedHashMap[String, AnyRef]()
    def put(n: String, v: Double, unit: String): Unit =
      metrics.put(n, Map[String, AnyRef]("value" -> Double.box(v), "unit" -> unit).asJava)
    def med(f: ((Pass, Long)) => Double) = median(plain.map(f).toSeq)
    if (!trace) {
      put("setup_s", setupS, "s")
      put("wall_s", med(_._1.wallS), "s")
      put("items_per_s", med(p => p._1.items / p._1.itemS), "1/s")
      put("op_ms_p50", median(plain.flatMap(_._1.opsMs).toSeq), "ms")
      put("heap_mb", med(_._2 / 1e6), "MB")
      put("disk_mb", med(_._1.diskBytes / 1e6), "MB")
    } else {
      val n = math.max(1, traced.size).toDouble
      val extras = wl.tracedExtras(layers)
      for (l <- Layers) {
        val c = layers.getOrElse(l, new Counters).scaled(1 / n)
        put(s"$l.self_s", c.selfS, "s")
        put(s"$l.jobs", c.jobs, "count")
        put(s"$l.tasks", c.tasks, "count")
        put(s"$l.task_s", c.taskS, "s")
        put(s"$l.shuffle_mb", c.shuffleMb, "MB")
        put(s"$l.spill_mb", c.spillMb, "MB")
        put(s"$l.io_mb", c.ioMb, "MB")
      }
      for (r <- Ratios) put(r, extras.getOrElse(r, 0.0), "1")
      val plainWall = med(_._1.wallS)
      put("trace.overhead",
        if (plainWall > 0) median(traced.map(_._1.wallS).toSeq) / plainWall else 0.0, "1")
    }
    val out = new java.util.LinkedHashMap[String, AnyRef]()
    out.put("correct", Boolean.box(failed == 0 && plain.nonEmpty && (!trace || traced.nonEmpty)))
    out.put("attempted", Int.box(attempted))
    out.put("failed", Int.box(failed))
    out.put("metrics", metrics)
    val line = new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(out)
    spark.stop()
    log(f"done after ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")
    println(line)
  }
}

/** Live heap at the end of a pass: the heap in use after full collections,
  * i.e. what the pass left behind in caches and memos. The second
  * collection follows Spark's context cleaner, which releases the
  * broadcasts and shuffles the first one found unreachable. */
object Heap {
  def liveAfterPass(): Long = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}
