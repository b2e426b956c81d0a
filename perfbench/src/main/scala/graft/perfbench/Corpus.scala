package graft.perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.schema.{Dimensions, TmdbCorpus, TmdbSchemas}

/** Seeded TMDB-shaped corpus generator.
  *
  * Every generated document is one of the three `schema.TmdbCorpus` movie
  * templates with its keys shifted: movie, person, company and collection
  * ids, release date, vote count and the id lists of the nested arrays are
  * drawn from the seed, every other field is copied from the template. So
  * the template's edge cases stay in the generated data: `""` and `0`
  * normalize to NULL, template 103 keeps every array empty, template 102
  * has no `external_ids`, and cast/crew entries keep the template gender
  * codes (including the unknown code 7) and its empty character / job.
  *
  *  - Persons are drawn with Zipf (s = 1) popularity from a pool, so a few
  *    persons appear in many movies.
  *  - Release dates spread uniformly over `days` days.
  *  - Companies form parent chains `chainLen` levels deep.
  *  - A few ids point outside the static dimensions or the detail tables, so
  *    edge endpoint validation has something to drop.
  *
  * [[Keys]] is the key view of one document. Rows are built from it on the
  * executors, and [[Expect]] counts the graph the pipeline must produce
  * from the same keys on the driver, independently of Spark.
  */
final case class CorpusSpec(seed: Long, movies: Int, days: Int,
                            persons: Int, companies: Int, collections: Int,
                            castMax: Int, crewMax: Int, chainLen: Int = 4,
                            partitions: Int = 8) {
  val movieBase = 1000000L
  val personBase = 5000000L
  val companyBase = 100000L
  val collectionBase = 900000L
  val firstDay: LocalDate = LocalDate.of(2023, 1, 2)
  def date(day: Int): String = firstDay.plusDays(day.toLong).toString
}

/** The keys of one movie document: everything the graph depends on. */
final case class Keys(id: Long, template: Int, day: Int, votes: Long,
                      collection: Long, genres: Array[Long],
                      companies: Array[Long], countries: Array[String],
                      languages: Array[String], cast: Array[Long],
                      crew: Array[Long], crewDept: Array[String],
                      offers: Array[(String, Array[Array[Long]])])

object Corpus {

  /** The reference flow's vote-count floor (`vote_count >= 10`), passed to
    * `Discover.scan`; generated movies below it are skipped.
    */
  val minVotes = 10L

  val crewDepartments: Array[String] = Array(
    "Directing", "Writing", "Sound", "Editing", "Camera", "Lighting",
    "Costume & Make-Up", "Production", "Art", "Visual Effects", "Crew",
    "Creator")
  val regions: Array[String] = Array("US", "FR", "GB", "DE", "JP")
  private val genreIds = Dimensions.genreRows.map(_._1).toArray
  private val languageIds = Dimensions.languageRows.map(_._1).toArray
  private val countryIds = Dimensions.countryRows.map(_._1).toArray
  private val providerIds = Dimensions.watchProviderRows.map(_._1).toArray
  private val unknownGenre = 99999L
  private val unknownProvider = 999L

  private def rng(seed: Long, salt: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt << 40) ^ i)

  /** Zipf(s = 1) rank in [0, n): log-uniform over [1, n + 1). */
  private def zipf(r: SplittableRandom, n: Int): Int =
    math.min(n - 1, (math.exp(r.nextDouble() * math.log(n + 1.0)) - 1.0).toInt)

  private def pick[A: scala.reflect.ClassTag](r: SplittableRandom, xs: Array[A], unknown: A,
                      k: Int): Array[A] =
    Array.fill(k)(if (r.nextInt(20) == 0) unknown else xs(r.nextInt(xs.length)))

  /** The keys of generated movie `i`. */
  def keys(spec: CorpusSpec, i: Int): Keys = {
    val r = rng(spec.seed, 1, i)
    val roll = r.nextInt(20)
    val template = if (roll == 0) 2 else if (roll < 7) 1 else 0
    val id = spec.movieBase + i
    val day = r.nextInt(spec.days)
    val votes = r.nextInt(2000).toLong
    if (template == 2)
      return Keys(id, 2, day, votes, -1L, Array.empty, Array.empty,
        Array.empty, Array.empty, Array.empty, Array.empty, Array.empty,
        Array.empty)
    // one collection id in ten is never fetched: no Collection node, no edge
    val collection =
      if (template == 0 && r.nextInt(5) < 3)
        spec.collectionBase + r.nextInt(spec.collections + spec.collections / 10)
      else -1L
    val genres = pick(r, genreIds, unknownGenre, 1 + r.nextInt(3))
    val companies = Array.fill(1 + r.nextInt(3))(
      spec.companyBase + r.nextInt(spec.companies + spec.companies / 20))
    val countries = pick(r, countryIds, "XX", 1 + r.nextInt(2))
    val languages = pick(r, languageIds, "xx", 1 + r.nextInt(2))
    def person(): Long = spec.personBase + zipf(r, spec.persons)
    val cast = Array.fill(1 + r.nextInt(spec.castMax))(person())
    val nCrew = 1 + r.nextInt(spec.crewMax)
    val crew = Array.fill(nCrew)(person())
    val crewDept = Array.tabulate(nCrew)(j =>
      crewDepartments((j + r.nextInt(crewDepartments.length)) % crewDepartments.length))
    val offers = regions.filter(_ => r.nextInt(3) == 0).map { reg =>
      reg -> Array.fill(3)(pick(r, providerIds, unknownProvider, r.nextInt(3)))
    }
    Keys(id, template, day, votes, collection, genres, companies, countries,
      languages, cast, crew, crewDept, offers)
  }

  /** The keys of a template document, so [[Expect]] can count the
    * unshifted corpus as well.
    */
  def keysOf(row: Row, template: Int): Keys = {
    def arr(name: String): Seq[Row] =
      Option(row.getAs[scala.collection.Seq[Row]](name)).map(_.toSeq).getOrElse(Nil)
    val credits = row.getAs[Row]("credits")
    val cast = credits.getAs[scala.collection.Seq[Row]]("cast").toSeq
    val crew = credits.getAs[scala.collection.Seq[Row]]("crew").toSeq
    val results = row.getAs[Row]("watch_providers")
      .getAs[scala.collection.Map[String, Row]]("results")
    def ids(xs: scala.collection.Seq[Row]): Array[Long] =
      Option(xs).map(_.map(_.getAs[Long]("provider_id")).toArray).getOrElse(Array.empty)
    val day = java.time.temporal.ChronoUnit.DAYS.between(
      LocalDate.of(2023, 1, 2), LocalDate.parse(row.getAs[String]("release_date"))).toInt
    Keys(row.getAs[Long]("id"), template, day, row.getAs[Long]("vote_count"),
      Option(row.getAs[Row]("belongs_to_collection")).map(_.getAs[Long]("id")).getOrElse(-1L),
      arr("genres").map(_.getAs[Long]("id")).toArray,
      arr("production_companies").map(_.getAs[Long]("id")).toArray,
      arr("production_countries").map(_.getAs[String]("iso_3166_1")).toArray,
      arr("spoken_languages").map(_.getAs[String]("iso_639_1")).toArray,
      cast.map(_.getAs[Long]("id")).toArray,
      crew.map(_.getAs[Long]("id")).toArray,
      crew.map(_.getAs[String]("department")).toArray,
      results.toSeq.sortBy(_._1).map { case (reg, o) =>
        reg -> Array(ids(o.getAs("buy")), ids(o.getAs("rent")), ids(o.getAs("flatrate")))
      }.toArray)
  }

  /** Rebuild a template movie row around new keys. */
  def movieRow(t: Row, k: Keys, spec: CorpusSpec, castT: Array[Row],
               crewT: Array[Row]): Row = {
    val f = movieFields
    val v = t.toSeq.toArray
    v(f("id")) = k.id
    v(f("imdb_id")) = s"tt${k.id}"
    v(f("title")) = s"${t.getAs[String]("title")} ${k.id}"
    v(f("vote_count")) = k.votes
    v(f("release_date")) = spec.date(k.day)
    v(f("belongs_to_collection")) =
      if (k.collection < 0) null else Row(k.collection, s"Saga ${k.collection}", null, null)
    v(f("genres")) = k.genres.toSeq.map(g => Row(g, s"Genre $g"))
    v(f("production_companies")) =
      k.companies.toSeq.map(c => Row(c, null, s"Studio $c", "US"))
    v(f("production_countries")) = k.countries.toSeq.map(c => Row(c, s"Country $c"))
    v(f("spoken_languages")) = k.languages.toSeq.map(l => Row(l, l, l))
    val cast = k.cast.toSeq.zipWithIndex.map { case (p, j) =>
      val c = castT(j % castT.length)
      Row(c.get(0), c.get(1), p, c.get(3), s"Person $p", s"Person $p", c.get(6),
        null, (j + 1).toLong, c.get(9), s"c${k.id}-$j", j)
    }
    val crew = k.crew.toSeq.zipWithIndex.map { case (p, j) =>
      val c = crewT(j % crewT.length)
      Row(c.get(0), c.get(1), p, k.crewDept(j), s"Person $p", s"Person $p",
        c.get(6), null, s"w${k.id}-$j", k.crewDept(j), c.get(10))
    }
    v(f("credits")) = Row(cast, crew)
    v(f("watch_providers")) = Row(k.offers.map { case (reg, o) =>
      def ps(a: Array[Long]) = a.toSeq.zipWithIndex.map { case (p, j) =>
        Row(null, p, s"Provider $p", j + 1)
      }
      reg -> Row(s"https://example.test/${k.id}/$reg", ps(o(0)), ps(o(1)), ps(o(2)))
    }.toMap)
    Row.fromSeq(v.toSeq)
  }

  private lazy val movieFields: Map[String, Int] =
    TmdbSchemas.movieDetails.fieldNames.zipWithIndex.toMap

  /** Company `j`: parent chains `chainLen` deep, from the four company
    * templates (standalone, chained, empty description / country).
    */
  def companyRow(t: Row, spec: CorpusSpec, j: Int): Row = {
    val id = spec.companyBase + j
    val parent = if (j % spec.chainLen == 0) null
      else Row(id - 1, s"Studio ${id - 1}")
    val country = j % 7 match {
      case 0 => ""
      case 1 => "XX"
      case n => countryIds(n % countryIds.length)
    }
    Row(t.get(0), t.get(1), t.get(2), id, null, s"Studio $id", country, parent)
  }

  def collectionRow(t: Row, spec: CorpusSpec, j: Int): Row = {
    val id = spec.collectionBase + j
    Row(id, s"Saga $id", t.get(2), null, null)
  }

  /** The corpus as four detail tables, plus the detail rows the driver
    * reads: the generator's templates and [[Expect]]'s company and
    * collection tables. `movieRows` is filled for the fixture only.
    */
  final case class Tables(movies: DataFrame, collections: DataFrame,
                          companies: DataFrame, persons: DataFrame,
                          movieRows: Seq[Row], collectionRows: Seq[Row],
                          companyRows: Seq[Row]) {
    def collectionIds: Set[Long] = collectionRows.map(_.getLong(0)).toSet
  }

  def generate(spark: SparkSession, spec: CorpusSpec, fixture: Tables): Tables = {
    val movieT = fixture.movieRows.toArray
    val companyT = fixture.companyRows.toArray
    val collectionT = fixture.collectionRows.toArray
    val castT = movieT.flatMap(m => m.getAs[Row]("credits")
      .getAs[scala.collection.Seq[Row]]("cast").toSeq)
    val crewT = movieT.flatMap(m => m.getAs[Row]("credits")
      .getAs[scala.collection.Seq[Row]]("crew").toSeq)
    val s = spec
    val rows = spark.sparkContext
      .parallelize(0 until spec.movies, spec.partitions)
      .map(i => { val k = keys(s, i); movieRow(movieT(k.template), k, s, castT, crewT) })
    def local(schema: StructType, rs: Seq[Row]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema)
    val collections =
      (0 until spec.collections).map(j => collectionRow(collectionT(j % collectionT.length), s, j))
    val companies =
      (0 until spec.companies).map(j => companyRow(companyT(j % companyT.length), s, j))
    Tables(
      spark.createDataFrame(rows, TmdbSchemas.movieDetails),
      local(TmdbSchemas.collectionDetails, collections),
      local(TmdbSchemas.companyDetails, companies),
      fixture.persons, Nil, collections, companies)
  }

  def fixture(spark: SparkSession): Tables = {
    val (movies, collections, companies) =
      (TmdbCorpus.movies(spark), TmdbCorpus.collections(spark), TmdbCorpus.companies(spark))
    Tables(movies, collections, companies, TmdbCorpus.persons(spark),
      movies.collect().toSeq, collections.collect().toSeq, companies.collect().toSeq)
  }
}
