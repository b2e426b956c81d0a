package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.schema.Dimensions

/** The graph store the pipeline must hold after loading a set of movies,
  * counted on the driver from the generator's [[Keys]] without Spark.
  *
  * It restates the pipeline's contract, not its code: keyed first-write-wins
  * nodes, edges kept only when both endpoints exist, edge identity
  * `(rel_type, relationship_id)`, unknown departments dropped, and the
  * store keeping the union of everything loaded so far.
  */
final class Expect(companies: Seq[Row], collectionIds: Set[Long]) {
  private val genreDim = Dimensions.genreRows.map(_._1).toSet
  private val languageDim = Dimensions.languageRows.map(_._1).toSet
  private val countryDim = Dimensions.countryRows.map(_._1).toSet
  private val providerDim = Dimensions.watchProviderRows.map(_._1).toSet
  private val mappedDepts = Corpus.crewDepartments.toSet - "Creator"

  // company rows in TmdbSchemas.companyDetails field order
  private def id(r: Row): Long = r.getLong(3)
  private def country(r: Row): String = r.getString(6)
  private def parent(r: Row): Option[Long] = Option(r.getStruct(7)).map(_.getLong(0))
  private val companyIds = companies.map(id).toSet
  private val parentOf: Map[Long, Long] =
    companies.flatMap(r => parent(r).map(id(r) -> _)).toMap

  private val movies = mutable.HashSet.empty[Long]
  private val persons = mutable.HashSet.empty[Long]
  private val collections = mutable.HashSet.empty[Long]
  private val edges = mutable.HashMap.empty[String, mutable.HashSet[Any]]
  private def edge(t: String, k: Any): Unit =
    edges.getOrElseUpdate(t, mutable.HashSet.empty) += k

  /** Record one window's discovered movies as loaded. */
  def load(window: Iterable[Keys]): Unit = window.foreach { k =>
    val m = k.id
    movies += m
    if (collectionIds(k.collection)) { collections += k.collection; edge("PART_OF_movie", m) }
    k.genres.filter(genreDim).foreach(g => edge("HAS_GENRE", (m, g)))
    k.languages.filter(languageDim).foreach(l => edge("HAS_LANGUAGE", (m, l)))
    k.countries.filter(countryDim).foreach(c => edge("produced_in", (m, c)))
    k.companies.filter(companyIds).foreach(c => edge("PRODUCED_BY", (m, c)))
    k.offers.foreach(_._2.foreach(_.filter(providerDim).foreach(p =>
      edge("AVAILABLE_ON", (m, p)))))
    k.cast.foreach { p => persons += p; edge("ACTED_IN", (p, m)) }
    k.crew.indices.foreach { j =>
      persons += k.crew(j)
      if (mappedDepts(k.crewDept(j))) edge("CREW", (k.crewDept(j), m, k.crew(j)))
    }
  }

  /** Expected rows per store table (`nodes_<Label>` / `edges_<Type>`). */
  def tables: Map[String, Long] = {
    val companyEdges = companies.count(r => parent(r).exists(companyIds))
    val basedOn = companies.count(r => countryDim(country(r)))
    val nodes = Map(
      "Movie" -> movies.size.toLong, "Collection" -> collections.size.toLong,
      "Company" -> companyIds.size.toLong, "Person" -> persons.size.toLong,
      "Genre" -> genreDim.size.toLong, "Language" -> languageDim.size.toLong,
      "Country" -> countryDim.size.toLong, "WatchProvider" -> providerDim.size.toLong)
    val edgeCounts = Seq("PART_OF_movie", "HAS_GENRE", "HAS_LANGUAGE",
      "produced_in", "PRODUCED_BY", "AVAILABLE_ON", "ACTED_IN", "CREW")
      .map(t => t -> edges.get(t).fold(0L)(_.size.toLong)).toMap ++
      Map("PART_OF_company" -> companyEdges.toLong, "BASED_ON" -> basedOn.toLong)
    nodes.map { case (l, n) => s"nodes_$l" -> n } ++
      edgeCounts.map { case (t, n) => s"edges_$t" -> n }
  }

  /** Rows of the company ancestor closure (one per (company, ancestor)). */
  def ancestry: Long = companyIds.toSeq.map { c =>
    var n = 0L
    var cur = parentOf.get(c)
    val seen = mutable.HashSet(c)
    while (cur.isDefined && seen.add(cur.get)) { n += 1; cur = parentOf.get(cur.get) }
    n
  }.sum
}

object Expect {
  /** The pipeline's counts on the unshifted 3-movie fixture, as the
    * repository's pipeline test pins them.
    */
  val fixtureTables: Map[String, Long] = Map(
    "nodes_Movie" -> 3L, "nodes_Collection" -> 1L, "nodes_Person" -> 7L,
    "edges_PART_OF_movie" -> 1L, "edges_PART_OF_company" -> 2L,
    "edges_HAS_GENRE" -> 3L, "edges_HAS_LANGUAGE" -> 3L,
    "edges_PRODUCED_BY" -> 3L, "edges_BASED_ON" -> 3L,
    "edges_ACTED_IN" -> 3L, "edges_CREW" -> 4L)
  val fixtureAncestry = 3L
}
