package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.movies.Docs

/** The incremental denormalization pipeline: the reference daemon's
  * change fan-out graph (postgres_to_es/daemon.py:497-535, T4) as
  * keyset batches + semi-join propagation + restricted re-denorm +
  * idempotent upsert, fused per target index.
  *
  * The reference runs each process of the graph on its own: its own
  * re-denorm and its own index write. Here a tick scans every
  * process's keyset batch, then for each target (movies, persons,
  * genres) unions the changed-id streams of the processes that
  * advanced into ONE distinct id set, runs ONE restricted re-denorm
  * and ONE [[DocSink.upsert]], and only then saves the cursors of the
  * processes that fed that target. A round of changes to all five
  * tables therefore pays one index-maintenance op per target (one
  * delta segment per tick on a [[graft.movies.PostingIndexSink]]),
  * not one per process.
  *
  * Divergence from the reference, documented per SURVEY §7.3.3:
  *  - changed-id propagation dedupes (`distinct`) before re-denorm (the
  *    reference re-denormalizes duplicates harmlessly but wastefully —
  *    daemon.py:139-152 has no DISTINCT);
  *  - the persons-index process watches `updated_at`, not `created_at`
  *    (reference quirk at daemon.py:522-527 meant person edits never
  *    refreshed the persons index);
  *  - person docs also refresh on new `person_film_work` rows, and
  *    genre docs on new `genre_film_work` rows and on film edits (the
  *    reference has no such process, so a person's `film_ids`/`roles`
  *    and a genre's `filmworks` went stale).
  *
  * Scale: each tick touches only `limit` changed rows per process;
  * propagation is a semi-join from the bridge to a tiny changed-id set
  * (broadcast), and `Docs.*` restricted by docIds only shuffles the
  * affected slice.
  */
object CdcPipeline {

  /** Live views of the 5 normalized tables (re-read per tick so a
    * mutable store — parquet dir, JDBC — shows fresh rows).
    */
  final case class Tables(
      filmWork: () => DataFrame,
      person: () => DataFrame,
      genre: () => DataFrame,
      personFilmWork: () => DataFrame,
      genreFilmWork: () => DataFrame)

  final case class Sinks(
      movies: DocSink, persons: DocSink, genres: DocSink) {
    def apply(target: String): DocSink = target match {
      case "movies" => movies
      case "persons" => persons
      case "genres" => genres
    }
  }

  /** The target indexes, in the order a tick maintains them. */
  private val Targets = Seq("movies", "persons", "genres")

  /** One change-detection process: watch `table.tsCol` and map changed
    * rows to ids of its `target` index via `propagate` (a single `id`
    * column, duplicates allowed: the tick dedupes per target). The
    * name keys the process's cursor.
    */
  final case class Process(
      name: String,
      table: () => DataFrame,
      tsCol: String,
      target: String, // movies | persons | genres
      propagate: DataFrame => DataFrame)

  /** The 10 processes: 5 → movies, 2 → persons, 3 → genres. The
    * last three (`person_film_work.persons`, `genre_film_work.genres`,
    * `film_work.genres`) are newer than the other seven: a cursor
    * directory written before them starts them at `Cursor.Zero`, which
    * costs one idempotent re-index of the persons and genres docs.
    */
  def processes(t: Tables): Seq[Process] = {
    def viaBridge(bridge: () => DataFrame, from: String, to: String) =
      (changed: DataFrame) =>
        bridge().join(
            broadcast(changed.select(col("id").as(from))), Seq(from), "left_semi")
          .select(col(to).as("id"))
    def column(c: String) = (changed: DataFrame) => changed.select(col(c).as("id"))
    Seq(
      Process("film_work.movies", t.filmWork, "updated_at", "movies", column("id")),
      Process("person.movies", t.person, "updated_at", "movies",
        viaBridge(t.personFilmWork, "person_id", "film_work_id")),
      Process("genre.movies", t.genre, "updated_at", "movies",
        viaBridge(t.genreFilmWork, "genre_id", "film_work_id")),
      Process("person_film_work.movies", t.personFilmWork, "created_at",
        "movies", column("film_work_id")),
      Process("genre_film_work.movies", t.genreFilmWork, "created_at",
        "movies", column("film_work_id")),
      Process("person.persons", t.person, "updated_at", "persons", column("id")),
      Process("person_film_work.persons", t.personFilmWork, "created_at",
        "persons", column("person_id")),
      Process("genre.genres", t.genre, "updated_at", "genres", column("id")),
      Process("genre_film_work.genres", t.genreFilmWork, "created_at",
        "genres", column("genre_id")),
      Process("film_work.genres", t.filmWork, "updated_at", "genres",
        viaBridge(t.genreFilmWork, "film_work_id", "genre_id")))
  }

  /** Rebuild the docs for a driving id set, routed by target index. */
  def rebuild(t: Tables, target: String, docIds: DataFrame): DataFrame =
    target match {
      case "movies" => Docs.movieDocs(
        t.filmWork(), t.person(), t.genre(),
        t.personFilmWork(), t.genreFilmWork(), Some(docIds))
      case "persons" => Docs.personDocs(t.person(), t.personFilmWork(),
        Some(docIds))
      case "genres" => Docs.genreDocs(t.genre(), t.filmWork(),
        t.genreFilmWork(), Some(docIds))
    }

  /** What a tick did for one process: whether its keyset batch
    * consumed rows, and how many docs the tick wrote to the process's
    * TARGET (one count per target, the same for all its processes).
    */
  final case class TickResult(consumed: Boolean, docsWritten: Long)

  /** One full tick over all processes (the reference's poll-loop body,
    * daemon.py:537-542), fused per target. Restart-safe: a process's
    * cursor advances only after its target's upsert lands, so a crash
    * replays the batch (idempotent upsert makes the replay a no-op —
    * effectively-once); a crash between two cursor saves replays the
    * whole target batch, which the upsert absorbs the same way.
    */
  def tick(
      spark: SparkSession,
      t: Tables,
      sinks: Sinks,
      cursors: Keyset.CursorStore,
      batchSize: Int = 1000): Map[String, TickResult] = {
    // One cached scan per source table per tick: the processes (and
    // the rebuilds) otherwise re-read the same 5 tables up to a
    // dozen times, and mid-tick writers would give later processes a
    // different table state than earlier ones. A tick runs against one
    // consistent snapshot; freshness re-enters at the next tick.
    val cached = Seq(t.filmWork(), t.person(), t.genre(),
      t.personFilmWork(), t.genreFilmWork()).map(_.cache())
    val snap = Tables(
      () => cached(0), () => cached(1), () => cached(2),
      () => cached(3), () => cached(4))
    try tickUncached(snap, sinks, cursors, batchSize)
    finally cached.foreach { df => df.unpersist(); () }
  }

  private def tickUncached(
      t: Tables,
      sinks: Sinks,
      cursors: Keyset.CursorStore,
      batchSize: Int): Map[String, TickResult] = {
    val procs = processes(t)
    // keyset scans: (process, lazy batch, advanced cursor) of each
    // process that consumed rows
    val fed = procs.flatMap { p =>
      val cursor = cursors.load(p.name)
      val (batch, advanced) = Keyset.nextBatch(
        p.table(), p.tsCol, "id", cursor, batchSize)
      if (advanced == cursor) None else Some((p, batch, advanced))
    }
    val written = Targets.flatMap { target =>
      val feeders = fed.filter(_._1.target == target)
      if (feeders.isEmpty) None
      else {
        val ids = feeders.map { case (p, batch, _) => p.propagate(batch) }
          .reduce(_ union _).distinct().cache()
        // rebuild's denorm joins feed BOTH the tick metric (count) and
        // the sink write — cache so they execute once per tick
        val docs = rebuild(t, target, ids).cache()
        try {
          val count = docs.count()
          sinks(target).upsert(docs)
          feeders.foreach { case (p, _, advanced) => cursors.save(p.name, advanced) }
          Some(target -> count)
        } finally { docs.unpersist(); ids.unpersist(); () }
      }
    }.toMap
    val consumed = fed.map(_._1.name).toSet
    procs.map { p =>
      p.name -> TickResult(consumed(p.name), written.getOrElse(p.target, 0L))
    }.toMap
  }

  /** Drain mode (Trigger.AvailableNow analogue): tick until no process
    * consumed any rows. A batch can consume rows yet write zero docs
    * (e.g. changed persons that appear in no film), so termination keys
    * off consumption, not doc counts. Throws `IllegalStateException`,
    * naming the processes, when the `maxTicks`-th tick still consumed
    * rows: their docs may be stale, and the caller must know.
    */
  def drain(
      spark: SparkSession,
      t: Tables,
      sinks: Sinks,
      cursors: Keyset.CursorStore,
      batchSize: Int = 1000,
      maxTicks: Int = 1000): Unit = {
    require(maxTicks >= 1, "maxTicks must be >= 1")
    def consuming() = tick(spark, t, sinks, cursors, batchSize)
      .collect { case (n, r) if r.consumed => n }.toSeq.sorted
    var pending = consuming()
    var ticks = 1
    while (pending.nonEmpty) {
      if (ticks == maxTicks)
        throw new IllegalStateException(
          s"drain stopped after $maxTicks ticks with rows still pending " +
            s"for ${pending.mkString(", ")}; raise maxTicks or batchSize")
      pending = consuming()
      ticks += 1
    }
  }
}
