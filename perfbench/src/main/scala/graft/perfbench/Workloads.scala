package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit}

import graft.operators.{Clean, Discover, Sinks}
import graft.pipeline.MovieGraph

/** One timed operation. `run` is what the latency covers; `after` runs
  * outside it and returns false when the op's output check failed.
  */
final case class Op(name: String, run: () => Boolean, after: () => Boolean)

/** A workload: optional input generation, set-up work after the session
  * warm-up, the fixed list of timed ops, and the checks that close the run.
  */
trait Workload {
  /** Harness tables the Bench warm-up touches, if the workload reads them. */
  def warmTables: Option[String]
  /** Make the inputs; excluded from set-up time. */
  def generate(spark: SparkSession): Unit = ()
  /** Set-up work that belongs to set-up time (the history store). */
  def preload(spark: SparkSession): Unit = ()
  /** The timed ops, each run once in this order. */
  def ops: Seq[Op]
  /** End-of-run checks: number of failed checks. */
  def finish(spark: SparkSession): Int = 0
  /** Workload-specific figures for the run record and the traced run. */
  def figures: Map[String, (Double, String)] = Map.empty
}

/** A weekly incremental knowledge-graph load against a pre-loaded store.
  *
  * The history (`historyDays` of releases) is loaded in set-up. The timed
  * ops then load the inclusive window `[historyDays - 1, historyDays + 6]`,
  * whose first day replays the history's last day, and re-run the same
  * window whole, which must append nothing.
  *
  * The corpus sizes are assumptions, not measured TMDB traffic: 40
  * releases a day, 1-40 cast and crew, 2000 companies. What they must
  * give is a window small enough that per-table driver overhead, not
  * executor work, sets the op latency. An earlier sizing found the
  * per-table write cost about flat from 900 to 90,000 movies a window, so
  * the latency is insensitive to the exact release volume.
  */
final class KgWeekly(seed: Long, work: String, tracer: Tracer) extends Workload {
  val perDay = 40
  val historyDays = 14
  val spec: CorpusSpec = {
    val days = historyDays + 7
    CorpusSpec(seed, movies = perDay * days, days = days, persons = 2 * perDay * days,
      companies = 2000, collections = 500, castMax = 40, crewMax = 40)
  }
  private val store = s"$work/store"
  private var spark: SparkSession = _
  private var fixture: Corpus.Tables = _
  private var tables: Corpus.Tables = _
  private var source: DataFrame = _
  private var keys: IndexedSeq[Keys] = _
  private var expect: Expect = _
  private var stats: StoreStats = _
  private var last = Map.empty[String, Table]
  private var genSeconds = 0.0

  // per-layer sink counters over the timed ops
  private var offered, appended, filesAdded, emptyAdded, bytesAdded = 0L

  def warmTables: Option[String] = None

  override def generate(s: SparkSession): Unit = {
    spark = s
    val t0 = System.nanoTime()
    fixture = Corpus.fixture(s)
    fixtureModelCheck(fixture)
    tables = Corpus.generate(s, spec, fixture)
    tables.movies.write.mode("overwrite").parquet(s"$work/corpus")
    source = s.read.parquet(s"$work/corpus")
    keys = (0 until spec.movies).map(Corpus.keys(spec, _))
    expect = new Expect(tables.companyRows, tables.collectionIds)
    stats = new StoreStats(s.sparkContext.hadoopConfiguration)
    genSeconds = (System.nanoTime() - t0) / 1e9
  }

  override def preload(s: SparkSession): Unit =
    if (!load(0, historyDays - 1)() || !check(0, historyDays - 1, replay = false)())
      throw new IllegalStateException("history store does not match the generator")

  def ops: Seq[Op] = {
    val (s, e) = (historyDays - 1, historyDays + 6)
    Seq(Op("week", load(s, e), check(s, e, replay = false)),
        Op("week-replay", load(s, e), check(s, e, replay = true)))
  }

  private def window(s: Int, e: Int): Seq[Keys] =
    keys.filter(k => k.day >= s && k.day <= e && k.votes >= Corpus.minVotes)

  /** discover -> clean -> build -> write every node and edge table -> J4. */
  private def load(s: Int, e: Int)(): Boolean = {
    val scanned = tracer("discover.scan") {
      Discover.scan(source, "release_date", spec.date(s), spec.date(e),
        "vote_count", Corpus.minVotes)
    }
    val cleaned = tracer("clean.movie_details") { Clean.movieDetails(scanned) }
    val graph = tracer("moviegraph.build") {
      MovieGraph.build(spark, cleaned, tables.collections, tables.companies, tables.persons)
    }
    if (!tracer.on) Sinks.writeGraph(graph, store, Sinks.movieGraphKeys)
    else writeTables(graph, store)
    val ancestry = tracer("moviegraph.ancestry") {
      MovieGraph.companyAncestry(tables.companies).count()
    }
    pending = Some((graph, cleaned))
    ancestry == expect.ancestry
  }

  /** `Sinks.writeGraph`'s own loop, one span per table. It must follow
    * `writeGraph`; [[sinkCopyMatches]] checks that it still does.
    */
  private def writeTables(graph: MovieGraph.GraphTables, to: String): Unit = {
    graph.nodes.foreach { case (label, df) =>
      tracer("sinks.append_dedup") {
        Sinks.appendDedup(df, s"$to/nodes_$label", Seq(Sinks.movieGraphKeys(label)))
      }
    }
    graph.edges.foreach { case (rel, df) =>
      tracer("sinks.append_edges") { Sinks.appendEdges(df, s"$to/edges_$rel") }
    }
  }

  /** Replaying the fixture onto a store that already holds it leaves the
    * same part-files, empty part-files and rows in every table through
    * `Sinks.writeGraph` as through [[writeTables]]. Run after the timed
    * phase of traced runs.
    */
  private def sinkCopyMatches(): Boolean = {
    val cleaned = Clean.movieDetails(Discover.scan(fixture.movies,
      "release_date", "2024-01-01", "2024-12-31", "vote_count", Corpus.minVotes))
    val graph = MovieGraph.build(spark, cleaned, fixture.collections, fixture.companies,
      fixture.persons)
    val (real, copy) = (s"$work/sink-guard-real", s"$work/sink-guard-copy")
    Sinks.writeGraph(graph, real, Sinks.movieGraphKeys)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(real).getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(real), fs,
      new org.apache.hadoop.fs.Path(copy), false, conf)
    Sinks.writeGraph(graph, real, Sinks.movieGraphKeys)
    writeTables(graph, copy)
    cleaned.unpersist()
    def shape(store: String) = stats.snapshot(store).map { case (t, x) =>
      t -> (x.files, x.emptyFiles, x.rows)
    }
    val (want, got) = (shape(real), shape(copy))
    if (want != got) System.err.println(
      s"[perfbench] traced sink loop differs from Sinks.writeGraph: $got, want $want")
    want == got
  }

  private var pending: Option[(MovieGraph.GraphTables, DataFrame)] = None

  /** Traced runs count the rows each table offered to the sink, after the
    * op and outside every layer span; then the op's cache is released.
    */
  private def release(): Unit = pending.foreach { case (graph, cleaned) =>
    if (tracer.on && tracer.op >= 0) {
      val op = tracer.op
      tracer.op = -1
      offered += tracer.overhead {
        tracer("trace.offered") {
          (graph.nodes.values ++ graph.edges.values).map(_.select(lit(1).as("o")))
            .reduce(_ union _).count()
        }
      }
      tracer.op = op
    }
    cleaned.unpersist()
    pending = None
  }

  /** The store after the op equals the generator's count per table, and a
    * whole replay appended nothing.
    */
  private def check(s: Int, e: Int, replay: Boolean)(): Boolean = {
    release()
    expect.load(window(s, e))
    val now = stats.snapshot(store)
    val (f0, e0, b0, r0) = StoreStats.sum(last)
    val (f1, e1, b1, r1) = StoreStats.sum(now)
    if (tracer.op >= 0) {
      appended += r1 - r0; filesAdded += f1 - f0; emptyAdded += e1 - e0; bytesAdded += b1 - b0
    }
    last = now
    val want = expect.tables
    val ok = want.forall { case (t, n) => now.get(t).exists(_.rows == n) } &&
      now.keySet == want.keySet && (!replay || r1 == r0)
    if (!ok) System.err.println(s"[perfbench] store check failed after window $s..$e: " +
      want.map { case (t, n) => s"$t=${now.get(t).map(_.rows)}/$n" }.mkString(" "))
    ok
  }

  /** Node keys are unique in every node table (one job for all eight);
    * in traced runs, the traced sink loop still matches the program's.
    */
  override def finish(s: SparkSession): Int =
    Sinks.movieGraphKeys.toSeq.map { case (label, key) =>
      s.read.parquet(s"$store/nodes_$label")
        .agg(count(col(key)).as("n"), countDistinct(col(key)).as("keys"))
    }.reduce(_ union _).collect().count(r => r.getLong(0) != r.getLong(1)) +
      (if (tracer.on && !sinkCopyMatches()) 1 else 0)

  override def figures: Map[String, (Double, String)] = {
    val (files, _, bytes, rows) = StoreStats.sum(last)
    Seq(genSeconds, files.toDouble, bytes.toDouble / math.max(1L, rows), offered.toDouble,
      appended.toDouble, if (offered == 0) 0.0 else appended.toDouble / offered,
      filesAdded.toDouble, emptyAdded.toDouble, bytesAdded.toDouble)
      .zip(KgWeekly.figureUnits).map { case (v, (k, u)) => k -> (v, u) }.toMap
  }

  /** The expectation model reproduces the repository's pipeline counts on
    * the unshifted fixture before it is trusted on generated data.
    */
  private def fixtureModelCheck(fx: Corpus.Tables): Unit = {
    val model = new Expect(fx.companyRows, fx.collectionIds)
    model.load(fx.movieRows.zipWithIndex.map { case (r, i) => Corpus.keysOf(r, i) })
    val got = model.tables
    val bad = Expect.fixtureTables.filter { case (t, n) => got(t) != n }
    if (bad.nonEmpty || model.ancestry != Expect.fixtureAncestry)
      throw new IllegalStateException(s"expectation model disagrees with the fixture: $bad")
  }
}

object KgWeekly {
  /** Names and units of [[KgWeekly.figures]]; other workloads report 0. */
  val figureUnits: Seq[(String, String)] = Seq(
    "gen.corpus_s" -> "s", "store.files" -> "count", "store.bytes_per_row" -> "B/row",
    "sinks.rows_offered" -> "count", "sinks.rows_appended" -> "count",
    "sinks.append_yield" -> "frac", "sinks.files_added" -> "count",
    "sinks.empty_files_added" -> "count", "sinks.bytes_added" -> "B")
}

/** Ledger queries, one op each: construct the DataFrame, then `count()`.
  * Every listed query runs once, in list order. The order is
  * fixed: in a fresh JVM a query's latency depends on its position, and a
  * seeded order made the median op latency spread by 25-40 % across seeds.
  */
final class Ledger(names: Seq[String], expected: Map[String, Long], sfDir: String,
                   tracer: Tracer) extends Workload {
  private val fns = graft.SparkEntry.queries
  private var spark: SparkSession = _
  def warmTables: Option[String] = Some(sfDir)

  override def generate(s: SparkSession): Unit = spark = s

  def ops: Seq[Op] = names.map { name =>
    var rows = -1L
    Op(name,
      () => {
        val df = tracer("ledger.construct") { fns(name)(spark, sfDir) }
        rows = tracer("ledger.action") { df.count() }
        rows == expected(name)
      },
      () => {
        tracer("ledger.drain") { graft.Queries.drainScratch() }
        if (rows != expected(name))
          System.err.println(s"[perfbench] $name: count $rows, oracle ${expected(name)}")
        true
      })
  }
}
