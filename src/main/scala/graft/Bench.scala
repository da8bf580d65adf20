package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, NullNode}
import org.apache.spark.sql.SparkSession

import graft.core.Fixtures
import graft.operators.CrawlLoop

/** Driver-run benchmark: times every SparkEntry query at
  * SPARK_GRAFT_CPUS parallelism over SPARK_GRAFT_SF_DIR, plus the flagship
  * end-to-end crawl, and prints ONE JSON line:
  *   {"metric":"total","value":<sec>,"unit":"sec","queries":{...},"sf":...}
  * extended with the north-rule throughput figures
  * (urls scheduled+fetched+parsed per second) so BENCH_r{N}.json can be
  * graded against BASELINE.md. Fixture generation runs before the clock.
  * The SAME line is also written to SPARK_GRAFT_BENCH_OUT (default
  * /root/repo/bench_out.json) so downstream parsing never depends on sbt
  * log prefixes.
  *
  * Scaling evidence (north_rule: N vs 4N executors) is not measured here:
  * the "scaling" key embeds the committed ladders `bench_ladder.json` and
  * `bench_pipeline_ladder.json` (methodology and host variance in BENCH.md
  * section 3).
  *
  * SPARK_GRAFT_BENCH_ONLY=<regex> restricts the run to matching query names
  * (plus "crawl_e2e" if it matches) — local iteration aid.
  */
object Bench {
  /** A committed ladder JSON file as a tree, to embed in the one-line bench
    * JSON; JSON null when the file is missing or not a JSON object. */
  private[graft] def readLadder(path: String): JsonNode = try {
    val tree = new ObjectMapper().readTree(new java.io.File(path))
    if (tree != null && tree.isObject) tree else NullNode.instance
  } catch { case _: Throwable => NullNode.instance }

  /** The bench record as one JSON line. `runs` holds every selected entry
    * in run order with its walls, or None when its run threw: a failed
    * entry is listed under "failed" and stays out of "queries",
    * "query_walls" and the total. `crawl` is the flagship crawl's result
    * and wall seconds when it ran; "queries" then carries its wall as
    * "crawl_e2e" after each entry's min wall. */
  private[graft] def benchLine(runs: Seq[(String, Option[Seq[Double]])],
      crawl: Option[(CrawlLoop.RunResult, Double)], sfDir: String, cpus: Int,
      ladder: JsonNode, pipelineLadder: JsonNode): String = {
    val json = JsonNodeFactory.instance
    val timed = runs.collect { case (k, Some(ws)) => k -> ws }
    val queries = json.objectNode()
    timed.foreach { case (k, ws) => queries.put(k, ws.min) }
    crawl.foreach { case (_, sec) => queries.put("crawl_e2e", sec) }
    val walls = json.objectNode()
    timed.foreach { case (k, ws) => val a = walls.putArray(k); ws.foreach(a.add(_)) }
    val failed = json.arrayNode()
    runs.collect { case (k, None) => k }.foreach(failed.add(_))

    val line = json.objectNode()
    line.put("metric", "total")
    line.put("value", timed.map(_._2.min).sum + crawl.fold(0.0)(_._2))
    line.put("unit", "sec")
    line.set[JsonNode]("queries", queries)
    line.set[JsonNode]("query_walls", walls)
    line.set[JsonNode]("failed", failed)
    line.put("sf", sfDir)
    line.put("cpus", cpus)
    crawl.foreach { case (run, sec) =>
      val o = line.putObject("crawl")
      o.put("batches", run.batches)
      o.put("urls_scheduled", run.scheduledTotal)
      o.put("urls_fetched", run.fetchedTotal)
      o.put("urls_parsed", run.parsedTotal)
      o.put("wall_sec", sec)
      o.put("throughput_urls_per_sec",
        (run.scheduledTotal + run.fetchedTotal + run.parsedTotal) / sec)
    }
    val ref = line.putObject("scaling").putObject("ladder_ref")
    ref.put("note", "committed N-to-4N ladders (bench_ladder.json, " +
      "bench_pipeline_ladder.json); methodology and cross-round host variance " +
      "in BENCH.md section 3")
    ref.set[JsonNode]("committed", ladder)
    ref.set[JsonNode]("committed_pipeline", pipelineLadder)
    line.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.r)
    def selected(name: String): Boolean = only.forall(_.findFirstIn(name).isDefined)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // 4× cores (BENCH.md §6d): at partitions == cores one skewed reduce
      // task stalls a whole wave with zero AQE rebalance slack; at 4× AQE
      // coalesces narrow stages back down and a straggler costs 1/4 wave
      // (+44% local[32] crawl throughput on the same engine).
      .config("spark.sql.shuffle.partitions", (4 * cpus.toInt).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Fixtures are inputs, not work under test — generate before the clock.
    Fixtures.ensure(spark, sfDir)

    // Flagship: the end-to-end multi-batch crawl (scheduled+fetched+parsed).
    val crawl = if (selected("crawl_e2e")) {
      val cfg = graft.queries.CrawlQueries.fullCrawlConfig(sfDir)
        .copy(runTag = s"bench_${cpus}")
      val t0 = System.nanoTime()
      val run = CrawlLoop.run(spark, sfDir, cfg, fresh = true)
      val crawlSec = (System.nanoTime() - t0) / 1e9
      // q11/q12 read this crawl's outputs instead of re-crawling.
      graft.queries.CrawlQueries.primeCrawl(sfDir, run.dir)
      Some((run, crawlSec))
    } else None

    // q11/q12 read a primed crawl's outputs. If they are selected while
    // crawl_e2e is filtered out, run (and prime) the crawl OUTSIDE their
    // timed window — otherwise q11 would silently time a full crawl run
    // (and a same-JVM caller could leave a stale primed run behind).
    if (crawl.isEmpty &&
        (selected("q11_crawl_full") || selected("q12_host_log"))) {
      val run = CrawlLoop.run(spark, sfDir,
        graft.queries.CrawlQueries.fullCrawlConfig(sfDir).copy(runTag = s"bench_${cpus}"),
        fresh = true)
      graft.queries.CrawlQueries.primeCrawl(sfDir, run.dir)
    }

    // Variance hardening (round-3 verdict): a heavy entry's first wall can
    // carry a 10x host-contention spike or the JVM's one-off janino codegen
    // compilation — BENCH_r03 recorded q50 at 65.6 s vs 4-7 s on every
    // re-measure, indistinguishable from a real regression in the emitted
    // number. Entries slower than 2 s are re-run once; the headline
    // "queries" map carries the MIN, and "query_walls" carries every wall
    // so a reader can audit the spread. (The crawl keeps its single run;
    // perfbench's traced crawl_polite run is its per-layer view.) An entry
    // whose run throws is listed under "failed" and is never timed: it
    // stays out of "queries", "query_walls" and the total.
    val runs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => selected(name) }
      .map { case (name, fn) =>
        def once(): Double = {
          val s0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - s0) / 1e9
        }
        name -> (try {
          val w1 = once()
          Some(if (w1 > 2.0) Seq(w1, once()) else Seq(w1))
        } catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); None })
      }
    val line = benchLine(runs, crawl, sfDir, cpus.toInt,
      readLadder("bench_ladder.json"), readLadder("bench_pipeline_ladder.json"))
    // File first (driver-parseable regardless of log wrappers), then stdout.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outPath: $e") }
    println(line)
    spark.stop()
  }
}
