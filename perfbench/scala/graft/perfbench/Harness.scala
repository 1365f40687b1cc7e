package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array_distinct, col}
import graft.{Engine, SparkEntry}
import graft.functions.TextFns
import graft.operators.Dedup

/** Measurement side of the benchmark (`perfbench/run.py` drives it and
  * does all the arithmetic). One JVM, one client, closed loop: each query
  * is built through `SparkEntry.queries(name)(spark, dataDir)` and forced
  * through the `noop` sink before the next one starts.
  *
  * Protocol:
  *  1. `Engine.create` (timed as `session_s`).
  *  2. Warm-up (`warmup_s`): an output-check pass — every workload query
  *     once, concurrently, written to parquet for the DuckDB oracle
  *     compare, plus the oracle SQL of those queries — then
  *     `--warmup-passes` untimed noop passes.
  *  3. `--passes` timed passes, each in its own seeded shuffle of the
  *     workload. With `--trace 1` the passes alternate untraced / traced
  *     (ABBA), and the traced ones record a span tree from Spark's public
  *     listener APIs.
  *  4. With `--trace 1`, the q304/q222 candidate counters.
  *
  * Everything measured goes to one JSON file (`--out`).
  */
object Harness {
  private val clock0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = clock0Ms + (System.nanoTime() - nano0) / 1e6

  /** Post-GC heap occupancy and cumulative stop-the-world GC time. */
  private object Heap {
    /** Heap in use, in MB, once Spark has caught up: the listener bus is
      * drained (its queues hold the pass's events until processed), the
      * first collection hands the finished queries' broadcasts and
      * shuffles to the context cleaner, the pause lets it drop their
      * blocks, and the second collection frees them. A plain post-GC
      * figure depends on which query ran last (about 105 vs 125 MB). */
    def settledAfterGc(sc: org.apache.spark.SparkContext): Double = {
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      System.gc()
      Thread.sleep(500)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  /** Per-query watchdog: a query still running after this is cancelled
    * and counts as failed. */
  private val capSec = 60L

  private final case class QueryRun(name: String, buildS: Double, execS: Double,
      error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val dataDir = opt("data")
    val workload = opt("queries").split(",").toSeq.filter(_.nonEmpty)
    val seed = opt("seed").toLong
    val warmupPasses = opt("warmup-passes").toInt
    val timedPasses = opt("passes").toInt
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val checkDir = opt("check-dir")
    val unknown = workload.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val processStartMs = ProcessHandle.current().info().startInstant()
      .map[Double](_.toEpochMilli.toDouble).orElse(clock0Ms)

    val s0 = nowMs
    val spark = Engine.create("perfbench", s"local[$cpus]", cpus)
    val sc = spark.sparkContext
    val sessionS = (nowMs - s0) / 1e3

    val watchdog = new java.util.Timer("perfbench-watchdog", true)
    /** Runs `body`, cancelling `groups` (and failing it) after the cap. */
    def guarded[T](groups: Seq[String])(body: => T): Either[String, T] = {
      val timedOut = new AtomicBoolean(false)
      val task = new java.util.TimerTask {
        def run(): Unit = {
          timedOut.set(true)
          groups.foreach(sc.cancelJobGroupAndFutureJobs)
        }
      }
      watchdog.schedule(task, capSec * 1000L)
      try Right(body)
      catch { case e: Throwable =>
        Left((if (timedOut.get) s"timeout after ${capSec}s: " else "") +
          String.valueOf(e.getMessage).linesIterator.take(3).mkString(" "))
      } finally { task.cancel(); sc.clearJobGroup() }
    }
    def order(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(workload)

    // 2. warm-up, starting with the output check. The check runs the
    // queries concurrently, one thread per core as Verify does: its cost is
    // cold-start codegen and JIT, which parallelizes. The timed passes
    // below stay a closed loop.
    val w0 = nowMs
    val checkFailures = new ConcurrentHashMap[String, String]()
    val pool = Executors.newFixedThreadPool(cpus)
    order(0).foreach { q =>
      pool.submit(new Runnable {
        def run(): Unit = guarded(Seq(s"pb-check-$q")) {
          sc.setJobGroup(s"pb-check-$q", q, interruptOnCancel = true)
          SparkEntry.queries(q)(spark, dataDir).coalesce(1)
            .write.mode("overwrite").parquet(s"$checkDir/$q")
        }.left.foreach(checkFailures.put(q, _))
      })
    }
    pool.shutdown()
    pool.awaitTermination(capSec * workload.size, TimeUnit.SECONDS)
    spark.catalog.clearCache()
    val oracleSql = workload.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"), Json(oracleSql))

    val tracer = new Tracer
    var nextSpan = 0
    val newId = () => { nextSpan += 1; nextSpan }
    val spans = mutable.ArrayBuffer[Span]()
    def attach(on: Boolean): Unit =
      if (on) {
        sc.addSparkListener(tracer.sparkListener)
        spark.listenerManager.register(tracer.queryListener)
        spark.streams.addListener(tracer.streamListener)
      } else {
        org.apache.spark.perfbench.ListenerBus.drain(sc)
        sc.removeSparkListener(tracer.sparkListener)
        spark.listenerManager.unregister(tracer.queryListener)
        spark.streams.removeListener(tracer.streamListener)
      }

    def runQuery(pass: Int, q: String, passSpan: Option[Span]): QueryRun = {
      val build = s"pb-$pass-$q-build"
      val execute = s"pb-$pass-$q-execute"
      val b0 = nowMs
      var b1 = Double.NaN
      val res = guarded(Seq(build, execute)) {
        sc.setJobGroup(build, q, interruptOnCancel = true)
        val df: DataFrame = SparkEntry.queries(q)(spark, dataDir)
        b1 = nowMs
        sc.setJobGroup(execute, q, interruptOnCancel = true)
        df.write.format("noop").mode("overwrite").save()
      }
      val e1 = nowMs
      if (b1.isNaN) b1 = e1
      spark.catalog.clearCache()
      passSpan.foreach { p =>
        org.apache.spark.perfbench.ListenerBus.drain(sc)
        val qs = Span(newId(), p.id, "query", q, b0, e1,
          Map("ok" -> (if (res.isRight) 1.0 else 0.0)))
        val bs = Span(newId(), qs.id, "build", build, b0, b1)
        val es = Span(newId(), qs.id, "execute", execute, b1, e1)
        spans ++= Seq(qs, bs, es) ++ tracer.take(newId, bs, es)
      }
      QueryRun(q, (b1 - b0) / 1e3, (e1 - b1) / 1e3, res.left.toOption)
    }

    val warmupPassS = (1 to warmupPasses).map { pass =>
      val p0 = nowMs
      order(pass).foreach(runQuery(pass, _, None))
      (nowMs - p0) / 1e3
    }
    Heap.settledAfterGc(sc)
    val warmupS = (nowMs - w0) / 1e3
    val setupS = (nowMs - processStartMs) / 1e3

    // 3. timed passes
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    for (i <- 0 until timedPasses) {
      val pass = warmupPasses + 1 + i
      // untraced / traced in ABBA order (U T T U U T ...), so warm-up drift
      // over the run does not land on one side of the overhead figure
      val traced = trace && (i % 4 == 1 || i % 4 == 2)
      if (traced) attach(on = true)
      val passSpan = if (traced) Some(Span(newId(), 0, "pass", s"pass $pass", 0, 0)) else None
      val gc0 = Heap.gcSeconds
      val p0 = nowMs
      val runs = order(pass).map(runQuery(pass, _, passSpan))
      val p1 = nowMs
      // a traced pass's wall includes its per-query listener-bus drains:
      // they are part of what tracing costs
      passSpan.foreach(p => spans += p.copy(startMs = p0, endMs = p1))
      // the pass's GC time includes the settled full GC that returns the
      // heap to its live set: that collection's length is the GC debt the
      // pass left behind
      val heapMb = Heap.settledAfterGc(sc)
      passes += Map(
        "index" -> pass, "traced" -> traced, "wall_s" -> (p1 - p0) / 1e3,
        "gc_s" -> (Heap.gcSeconds - gc0), "heap_post_gc_mb" -> heapMb,
        "queries" -> runs.map(r => Map("name" -> r.name, "build_s" -> r.buildS,
          "exec_s" -> r.execS, "error" -> r.error)))
      if (traced) attach(on = false)
    }

    // 4. operator counters, on the exact frames q304 and q222 join
    val operators: Map[String, Double] = if (!trace) Map.empty else {
      val vecs = SparkEntry.tfidfBigramVecs(spark, dataDir)
      val c304 = Dedup.sparseCosineCandidates(vecs).count()
      val o304 = Dedup.sparseCosinePairs(vecs, thresholdThousandths = 300).count()
      spark.catalog.clearCache()
      val docs = spark.read.parquet(s"$dataDir/documents.parquet")
        .select(col("doc_id"), array_distinct(TextFns.tokens(col("text"))).as("tk"))
      val (cand222, handles) = Dedup.ppJoinCandidates(docs, col("doc_id"), col("tk"),
        tPpm = 900000L)
      val c222 = cand222.count()
      handles.foreach(_.unpersist())
      val o222 = Dedup.ppJoinPairs(docs, col("doc_id"), col("tk"), tPpm = 900000L).count()
      spark.catalog.clearCache()
      Map("q304_candidates" -> c304.toDouble, "q304_pairs" -> o304.toDouble,
        "q222_candidates" -> c222.toDouble, "q222_pairs" -> o222.toDouble)
    }

    val result = Map(
      "cpus" -> cpus, "seed" -> seed, "queries" -> workload,
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmupS, "setup_s" -> setupS,
        "warmup_pass_s" -> warmupPassS),
      "check" -> Map("failed" -> checkFailures.asScala),
      "passes" -> passes,
      "spans" -> spans.sortBy(_.id).map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "attrs" -> s.attrs)),
      "operators" -> operators)
    spark.stop()
    Files.writeString(Paths.get(opt("out")), Json(result))
    sys.exit(0)
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
