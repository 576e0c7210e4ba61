package platbench

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. The program under test sees only what these
  * produce; the same seed always yields the same inputs.
  *
  * Every word is built from the letters "bdfgkmpvz" + "aou" and ends in
  * one of "bdgkpz", a shape the ru/en analyzer leaves unchanged (no
  * stopword, no Porter suffix, latin script): a document's analyzed
  * tokens are its words. [[CdcBench]] confirms this once per run.
  * Corpus words have two syllables; three-syllable words are reserved
  * for rename targets, so a renamed person's new name matches nothing
  * else in the corpus.
  */
object Gen {

  private val Cons = "bdfgkmpvz"
  private val Vow = "aou"
  private val Fin = "bdgkpz"

  /** Every two-syllable corpus word, in a fixed order. */
  val AllWords2: IndexedSeq[String] =
    for (c1 <- Cons; v1 <- Vow; c2 <- Cons; v2 <- Vow; f <- Fin)
      yield s"$c1$v1$c2$v2$f"

  /** A reserved three-syllable word, distinct for distinct `n`. */
  def reservedWord(n: Int): String = {
    val syl = Cons.length * Vow.length
    def s(i: Int) = s"${Cons(i / Vow.length)}${Vow(i % Vow.length)}"
    val a = n % syl; val b = (n / syl) % syl; val c = (n / syl / syl) % syl
    val f = (n / syl / syl / syl) % Fin.length
    require(n < syl * syl * syl * Fin.length, "reserved word space exhausted")
    s"${s(a)}${s(b)}${s(c)}${Fin(f)}"
  }

  /** Zipf(s) over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: Random): Int = {
      val u = r.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) / 2
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** Draw from a discrete distribution given as (value, weight). */
  def pick[T](r: Random, dist: Seq[(T, Double)]): T = {
    val u = r.nextDouble() * dist.map(_._2).sum
    var acc = 0.0
    dist.find { case (_, w) => acc += w; acc >= u }.getOrElse(dist.last)._1
  }

  def words(r: Random, pool: IndexedSeq[String], z: Zipf, n: Int): String =
    Seq.fill(n)(pool(z.sample(r))).mkString(" ")

  // ------------------------------------------------------------ legacy DB

  final case class LegacyMovie(
      id: String, genre: String, director: String, writer: String,
      title: String, plot: String, imdbRating: String, writers: String)
  final case class LegacyDb(
      movies: Seq[LegacyMovie],
      actors: Seq[(Long, String)],
      writers: Seq[(String, String)],
      movieActors: Seq[(String, String)],
      genreNames: IndexedSeq[String],
      titleWords: IndexedSeq[String],
      firstNames: IndexedSeq[String],
      lastNames: IndexedSeq[String])

  /** A legacy movie DB in the `Schemas.Legacy*` shape, scaled from the
    * make-up of the 1000-movie export in src/test/resources/legacy:
    * 26 Zipf-popular genres as ", "-joined CSV (1-6 per film), 30 % of
    * films without a director ("N/A"), 40 % with a JSON writer array
    * (2-6 ids, repeats allowed) and the rest on the single-writer
    * fallback, 25 % "N/A" plots, 0.5 % "N/A" ratings, 0.5 % duplicate
    * movie rows, 1.3 % duplicate cast rows, a few "N/A"-named actors
    * and writers, and cast sizes of 1-8 with Zipf(0.7)-skewed actor
    * popularity (the top actor plays in ~1.5 % of cast slots).
    */
  def legacyDb(seed: Long, nMovies: Int): LegacyDb = {
    val r = new Random(seed * 1000003L + 17L)
    val vocab = r.shuffle(AllWords2)
    val genreNames = vocab.take(26)
    val titleWords = vocab.slice(26, 2026)
    val firstNames = r.shuffle(AllWords2).take(300)
    val lastNames = r.shuffle(AllWords2).take(3000)
    val descWords = r.shuffle(AllWords2)

    // distinct full names for every person-like entity
    val nActors = nMovies * 27 / 10
    val nWriters = nMovies * 12 / 10
    val nameSet = mutable.LinkedHashSet.empty[String]
    while (nameSet.size < nActors + nWriters + nMovies / 2)
      nameSet += s"${firstNames(r.nextInt(firstNames.size))} " +
        lastNames(r.nextInt(lastNames.size))
    val names = nameSet.toIndexedSeq

    val actors = (1 to nActors).map { i =>
      (i.toLong, if (i % 1500 == 7) "N/A" else names(i - 1))
    }
    val writerNames = names.slice(nActors, nActors + nWriters)
    val writers = writerNames.zipWithIndex.map { case (n, i) =>
      val hex = f"${r.nextLong()}%016x${r.nextLong()}%016x${r.nextInt()}%08x"
      (hex, if (i % 1000 == 3) "N/A" else n)
    }
    // directors: a pool of their own plus some actors and writers who
    // also direct (one person, several roles)
    val directorPool = names.drop(nActors + nWriters) ++
      names.take(nActors / 10) ++ writerNames.take(nWriters / 10)

    val titleZ = new Zipf(titleWords.size, 1.0)
    val descZ = new Zipf(descWords.size, 1.0)
    val genreZ = new Zipf(genreNames.size, 1.0)
    val actorZ = new Zipf(nActors, 0.7)
    val dirZ = new Zipf(directorPool.size, 0.5)
    val writerZ = new Zipf(nWriters, 0.5)

    val movieActors = mutable.ArrayBuffer.empty[(String, String)]
    val movies = (0 until nMovies).map { m =>
      val id = f"tt$m%07d"
      val nGen = pick(r, Seq(1 -> 0.34, 2 -> 0.28, 3 -> 0.27, 4 -> 0.065,
        5 -> 0.03, 6 -> 0.015))
      val gs = mutable.LinkedHashSet.empty[String]
      while (gs.size < nGen) gs += genreNames(genreZ.sample(r))
      val genreCells = gs.toSeq ++
        (if (m % 97 == 5) Seq("N/A") else Nil) ++
        (if (m % 89 == 3) Seq(gs.head) else Nil)
      val nDir = pick(r, Seq(0 -> 0.30, 1 -> 0.61, 2 -> 0.07, 3 -> 0.02))
      val director =
        if (nDir == 0) "N/A"
        else Seq.fill(nDir)(directorPool(dirZ.sample(r))).distinct
          .mkString(", ")
      val useJson = r.nextDouble() < 0.4
      val writerIds = Seq.fill(if (useJson) 2 + r.nextInt(5) else 1)(
        writers(writerZ.sample(r))._1)
      val (writer, writersJson) =
        if (useJson)
          ("", writerIds.map(w => s"""{"id": "$w"}""")
            .mkString("[", ", ", "]"))
        else if (m % 1000 == 11) ("N/A", "")
        else (writerIds.head, "")
      val title = words(r, titleWords, titleZ, 1 + r.nextInt(4))
      val plot =
        if (r.nextDouble() < 0.25) "N/A"
        else words(r, descWords, descZ, 8 + r.nextInt(13))
      val rating =
        if (m % 200 == 9) "N/A" else f"${10 + r.nextInt(81)}%d"
          .patch(1, ".", 0)
      val cast = pick(r, Seq(1 -> 0.136, 2 -> 0.042, 3 -> 0.031,
        4 -> 0.779, 6 -> 0.003, 8 -> 0.009))
      val castIds = mutable.LinkedHashSet.empty[Long]
      while (castIds.size < cast) castIds += actors(actorZ.sample(r))._1
      castIds.foreach { a =>
        movieActors += ((id, a.toString))
        if (r.nextDouble() < 0.013) movieActors += ((id, a.toString))
      }
      LegacyMovie(id, genreCells.mkString(", "), director, writer, title,
        plot, rating, writersJson)
    }
    val dupMovies = movies.indices.filter(_ % 200 == 13).map(movies)
    LegacyDb(movies ++ dupMovies, actors, writers, movieActors.toSeq,
      genreNames, titleWords, firstNames, lastNames)
  }

  // ------------------------------------------------------------ requests

  /** One search request: page `page` (limit 50), sorted by `sortField`. */
  final case class Request(
      query: Option[String], sortField: String, asc: Boolean, page: Int)

  // ------------------------------------------------------------ CDC rounds

  /** One round of source changes, already resolved against the current
    * model state (ids exist, new rows are new).
    */
  final case class Round(
      tsMicros: Long,
      filmEdits: Seq[(String, String, Option[Double])], // id, title, rating
      personRenames: Seq[(String, String)],              // id, new name
      genreRenames: Seq[(String, String)],               // id, new name
      newFilms: Seq[(String, String, Option[Double])],   // id, title, rating
      newPfw: Seq[(String, String, String)],             // film, person, role
      newGfw: Seq[(String, String)]) {                   // film, genre
    def changedRows: Int = filmEdits.size + personRenames.size +
      genreRenames.size + newFilms.size + newPfw.size + newGfw.size
  }

  /** Change timestamps sit in the year 2200 and later, strictly above
    * every timestamp the ingest stamped (its wall clock), and depend
    * only on the seed and the round number.
    */
  def roundTsMicros(seed: Long, round: Int): Long =
    7258118400000000L + (math.abs(seed) % 1000L) * 86400000000L +
      round * 60000000L
}
