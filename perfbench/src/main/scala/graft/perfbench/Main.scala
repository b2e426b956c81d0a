package graft.perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The benchmark's JVM side: set up, run one workload's ops once, one at a
  * time, check the outputs and write every metric to a result file.
  * `perfbench/run.py` builds the classpath, launches this and prints the
  * result line.
  *
  * {{{
  * Main --workload <kg_weekly|ledger_stream> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --ledger <ledger.json>
  *      --cpus <n> --result <file>
  * Main --workload selfcheck --work <dir> --cpus <n> --result <file>
  * Main --workload dump-oracles --result <file>
  * Main --workload split-ledger --sf <dir> --work <dir> --cpus <n> --result <file>
  * }}}
  */
object Main {

  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Write `value` (Scala maps, sequences, strings and numbers) as JSON. */
  def writeJson(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), value)

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a("workload") match {
      case "dump-oracles" =>
        writeJson(a("result"), graft.SparkEntry.oracleSql)
      case "selfcheck" => selfCheck(a)
      case "split-ledger" => splitLedger(a)
      case w => run(w, a, jvmStartMs)
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def run(name: String, a: Map[String, String], jvmStartMs: Long): Unit = {
    val cpus = a("cpus").toInt
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val work = a("work")
    val tracer = new Tracer(a("trace") == "1")
    val workload: Workload = name match {
      case "kg_weekly" => new KgWeekly(seed, work, tracer)
      case "ledger_stream" =>
        val spec = LedgerSpec.load(a("ledger"))
        new Ledger(spec.stream, spec.expected, spec.sfDir, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up: JVM and session start, Bench warm-up, history preload ---
    val t0 = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val spark = Session.start(cpus, work)
    Session.warmUp(spark, workload.warmTables)
    val sessionSeconds = (System.nanoTime() - t0) / 1e9
    tracer.attach(spark)
    workload.generate(spark)
    val p0 = System.nanoTime()
    workload.preload(spark)
    val preloadSeconds = (System.nanoTime() - p0) / 1e9
    val setupSeconds = sessionSeconds + preloadSeconds
    tracer.drain()

    // ---- timed phase: every op once, whatever `seconds` is ---------------
    // A fixed op list keeps what is measured independent of the code's
    // speed; `seconds` is a floor that the list is sized to exceed.
    val ops = workload.ops
    val latencies = mutable.ArrayBuffer.empty[Double]
    val failedOps = mutable.ArrayBuffer.empty[String]
    val opSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    val phase0 = System.nanoTime()
    ops.zipWithIndex.foreach { case (op, i) =>
      tracer.op = i
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ok = try tracer("op") { op.run() } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] op ${op.name} failed: $e")
          false
      }
      latencies += (System.nanoTime() - t0) / 1e9
      opSpans += ((w0, System.currentTimeMillis()))
      val checked = try op.after() catch {
        case e: Exception =>
          System.err.println(s"[perfbench] check after ${op.name} failed: $e")
          false
      }
      if (!ok || !checked) failedOps += op.name
      tracer.drain()
      tracer.op = -1
    }
    val phaseSeconds = (System.nanoTime() - phase0) / 1e9
    if (phaseSeconds < seconds)
      System.err.println(f"[perfbench] timed phase took $phaseSeconds%.1f s, under the $seconds%.0f s floor")
    val finishFailures = workload.finish(spark)
    tracer.drain()

    // ---- metrics ---------------------------------------------------------
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    m("setup_s") = (setupSeconds, "s")
    m("wall_s") = (phaseSeconds, "s")
    m("op_p50_s") = (median(latencies.toSeq), "s")
    m("peak_rss_mb") = (peakRssMb, "MB")
    if (tracer.on) m ++= layerMetrics(tracer, opSpans.toSeq, latencies.sum, cpus)
    m ++= KgWeekly.figureUnits.map { case (k, u) => k -> (0.0, u) } ++ workload.figures

    val attempted = latencies.size + finishFailures.min(1)
    val failed = failedOps.size + finishFailures.min(1)
    writeJson(a("result"), mutable.LinkedHashMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> m.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
      "info" -> mutable.LinkedHashMap(
        "workload" -> name, "seed" -> seed, "ops" -> latencies.size,
        "timed_phase_s" -> phaseSeconds,
        "failed_frac" -> failed.toDouble / math.max(1, attempted),
        "failed_ops" -> failedOps,
        "finish_failures" -> finishFailures,
        "setup_session_s" -> sessionSeconds,
        "setup_preload_s" -> preloadSeconds,
        "op_names" -> ops.map(_.name),
        "op_latencies_s" -> latencies)))
    a.get("spans").foreach(tracer.writeSpans)
    Session.stop(spark)
  }

  /** Per-layer metrics of the timed ops from the spans and listeners. */
  private def layerMetrics(t: Tracer, opSpans: Seq[(Long, Long)], opSeconds: Double,
                           cpus: Int): Seq[(String, (Double, String))] = {
    def inOps(ms: Long) = opSpans.exists { case (s, e) => s <= ms && ms <= e }
    val spans = t.all
    val byId = spans.map(s => s.id -> s).toMap
    val work = t.workBySpan
    val inOp = work.filter { case (id, _) => byId.get(id).exists(_.op >= 0) }
    val total = new Work
    inOp.values.foreach(total.add)
    def jobsOf(name: String): Double = inOp.collect {
      case (id, w) if byId(id).name == name => w.jobs
    }.sum.toDouble
    val cat = t.catalyst.filter(p => inOps(p.timeMs))
    val prog = t.progress.filter(p => inOps(p.timeMs))
    def dur(k: String): Double = prog.map(_.durations.getOrElse(k, 0L)).sum / 1e3
    val stateRows = prog.groupBy(_.query).values.map(_.maxBy(_.timeMs).stateRows).sum
    val mb = 1024.0 * 1024.0
    Seq(
      "sinks.node_write_s" -> (t.selfSeconds("sinks.append_dedup"), "s"),
      "sinks.edge_write_s" -> (t.selfSeconds("sinks.append_edges"), "s"),
      "discover.construct_s" -> (t.selfSeconds("discover.scan"), "s"),
      "clean.construct_s" -> (t.selfSeconds("clean.movie_details"), "s"),
      "moviegraph.build_s" -> (t.selfSeconds("moviegraph.build"), "s"),
      "moviegraph.ancestry_s" -> (t.selfSeconds("moviegraph.ancestry"), "s"),
      "moviegraph.ancestry_jobs" -> (jobsOf("moviegraph.ancestry"), "count"),
      "ledger.construct_s" -> (t.selfSeconds("ledger.construct"), "s"),
      "ledger.action_s" -> (t.selfSeconds("ledger.action"), "s"),
      "ledger.construct_jobs" -> (jobsOf("ledger.construct"), "count"),
      "ledger.action_jobs" -> (jobsOf("ledger.action"), "count"),
      "ledger.drain_s" -> (t.selfSeconds("ledger.drain"), "s"),
      "streaming.queries" -> (t.streamsStarted.count(inOps).toDouble, "count"),
      "streaming.batches" -> (prog.size.toDouble, "count"),
      "streaming.add_batch_s" -> (dur("addBatch"), "s"),
      "streaming.query_planning_s" -> (dur("queryPlanning"), "s"),
      "streaming.wal_commit_s" -> (dur("walCommit"), "s"),
      "streaming.commit_s" -> (dur("commitOffsets"), "s"),
      "streaming.latest_offset_s" -> (dur("latestOffset"), "s"),
      "streaming.state_rows" -> (stateRows.toDouble, "count"),
      "streaming.state_commit_s" -> (prog.map(_.stateCommitMs).sum / 1e3, "s"),
      "spark.jobs" -> (total.jobs.toDouble, "count"),
      "spark.stages" -> (total.stages.toDouble, "count"),
      "spark.tasks" -> (total.tasks.toDouble, "count"),
      "spark.task_wait_s" -> (total.taskWaitMs / 1e3, "s"),
      "spark.slot_busy_frac" -> (total.taskBusyMs / 1e3 / (cpus * math.max(opSeconds, 1e-9)), "frac"),
      "spark.task_run_s" -> (total.taskRunMs / 1e3, "s"),
      "spark.task_cpu_s" -> (total.taskCpuNs / 1e9, "s"),
      "spark.gc_s" -> (total.gcMs / 1e3, "s"),
      "spark.shuffle_write_mb" -> (total.shuffleWrite / mb, "MB"),
      "spark.shuffle_read_mb" -> (total.shuffleRead / mb, "MB"),
      "spark.spill_mb" -> (total.spill / mb, "MB"),
      "spark.input_mb" -> (total.input / mb, "MB"),
      "spark.output_mb" -> (total.output / mb, "MB"),
      "spark.failed_tasks" -> (total.failedTasks.toDouble, "count"),
      "catalyst.analysis_s" -> (cat.map(_.analysis).sum / 1e3, "s"),
      "catalyst.optimization_s" -> (cat.map(_.optimization).sum / 1e3, "s"),
      "catalyst.planning_s" -> (cat.map(_.planning).sum / 1e3, "s"),
      "catalyst.actions" -> (cat.size.toDouble, "count"),
      // replaced in run.py by traced minus untraced wall_s when an untraced
      // record of the same workload is at hand
      "trace.overhead_s" -> (t.overheadNs / 1e9, "s"))
  }

  /** Run every ledger query once and name the ones that start a
    * Structured Streaming query, as seen by a StreamingQueryListener.
    */
  private def splitLedger(a: Map[String, String]): Unit = {
    val spark = Session.start(a("cpus").toInt, a("work"))
    var started = 0
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = started += 1
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
    val streaming = graft.Queries.all.filter { q =>
      started = 0
      q.fn(spark, a("sf")).count()
      graft.Queries.drainScratch()
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      started > 0
    }.map(_.name)
    writeJson(a("result"), Map("stream" -> streaming))
    Session.stop(spark)
  }

  /** The unshifted 3-movie fixture through the whole kg op reproduces the
    * repository pipeline test's counts.
    */
  private def selfCheck(a: Map[String, String]): Unit = {
    val spark = Session.start(a("cpus").toInt, a("work"))
    val fx = Corpus.fixture(spark)
    val store = s"${a("work")}/selfcheck-store"
    val graph = graft.pipeline.MovieGraph.build(spark,
      graft.operators.Clean.movieDetails(graft.operators.Discover.scan(fx.movies,
        "release_date", "2024-01-01", "2024-12-31", "vote_count", Corpus.minVotes)),
      fx.collections, fx.companies, fx.persons)
    graft.operators.Sinks.writeGraph(graph, store, graft.operators.Sinks.movieGraphKeys)
    val got = new StoreStats(spark.sparkContext.hadoopConfiguration).snapshot(store)
    val ancestry = graft.pipeline.MovieGraph.companyAncestry(fx.companies).count()
    val bad = Expect.fixtureTables.filter { case (t, n) => !got.get(t).exists(_.rows == n) }
    val ok = bad.isEmpty && ancestry == Expect.fixtureAncestry
    writeJson(a("result"), Map(
      "correct" -> ok,
      "tables" -> scala.collection.immutable.TreeMap(got.map { case (k, v) => k -> v.rows }.toSeq: _*),
      "ancestry" -> ancestry))
    Session.stop(spark)
  }
}

/** The frozen ledger split and its oracle counts (`perfbench/ledger.json`). */
final case class LedgerSpec(sfDir: String, stream: Seq[String], expected: Map[String, Long])

object LedgerSpec {
  def load(path: String): LedgerSpec = {
    val root = Main.mapper.readTree(new java.io.File(path))
    def names(k: String): Seq[String] = {
      val it = root.get(k).elements()
      val out = mutable.ArrayBuffer.empty[String]
      while (it.hasNext) out += it.next().asText()
      out.toSeq
    }
    val counts = root.get("expected_count")
    val expected = counts.fieldNames()
    val m = mutable.HashMap.empty[String, Long]
    while (expected.hasNext) { val k = expected.next(); m(k) = counts.get(k).asLong() }
    val dir = new java.io.File(path).getAbsoluteFile.getParentFile
    LedgerSpec(new java.io.File(dir, root.get("sf_dir").asText()).getPath,
      names("stream"), m.toMap)
  }
}
