package graft.imdb

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Golden end-to-end assertions against the reference data — the measured
  * values in /root/repo/BASELINE.md (null policy per SURVEY.md §1.4(2)).
  */
class GoldenImdbSpec extends SparkSpec {

  lazy val star: Star = Pipeline.build(spark)

  test("dim_movies has 1,000 rows") {
    assert(star.dimMovies.count() === 1000L)
  }

  test("dim_genres has the 13 distinct genres") {
    assert(star.dimGenres.count() === 13L)
    val genres = star.dimGenres.collect().map(_.getString(1)).sorted
    assert(genres.contains("Drama") && genres.contains("Sci-Fi"))
    // degenerate dimension: genre_id == genre_name on every row
    assert(star.dimGenres.collect().forall(r => r.getString(0) == r.getString(1)))
  }

  test("dim_people grain: 1,003 rows over 1,000 distinct person_ids") {
    assert(star.dimPeople.count() === 1003L)
    assert(star.dimPeople.select("person_id").distinct().count() === 1000L)
  }

  test("fact_movies grain: 1,492 rows, 58 with non-null director_id") {
    assert(star.factMovies.count() === 1492L)
    assert(star.factMovies.filter("director_id IS NOT NULL").count() === 58L)
  }

  test("Graf 1 golden: [(USA,102),(India,75)]") {
    val rows = Queries.graf1(star.dimMovies).collect()
    assert(rows.toSeq === Seq(Row("USA", 102L), Row("India", 75L)))
  }

  test("Graf 6 golden top-2: (USA,426),(India,89); tie-tolerant cut at 10") {
    val rows = Queries.graf6(star.dimMovies).collect()
    assert(rows.length === 10)
    assert(rows(0) === Row("USA", 426L))
    assert(rows(1) === Row("India", 89L))
    // the count-11 tie spans the cut: every returned count must be >= the
    // 10th count of the deterministic ordering
    val counts = rows.map(_.getLong(1))
    assert(counts.sorted.reverse.toSeq === counts.toSeq)
  }

  test("Graf 2 golden: duration averages per genre (top of the ordering)") {
    val rows = Queries.graf2(star.dimGenres, star.factMovies).collect()
    assert(rows.length === 13)
    assert(rows(0) === Row("Romance", 115.16))
    assert(rows(1) === Row("Action", 114.72))
    assert(rows(2) === Row("Crime", 111.45))
  }

  test("Graf 3/5 golden count multisets (rank values are tie-stable)") {
    val g3 = Queries.graf3Det(star.factMovies, star.dimPeople)
      .collect().map(_.getLong(1)).toSeq
    assert(g3 === Seq.fill(10)(3L)) // ten people tied at 3 known-for rows
    val g5 = Queries.graf5Det(star.staging("role_mapping_staging"), star.dimPeople)
      .collect().map(_.getLong(1)).toSeq
    assert(g5 === Seq(4L, 3L, 2L, 2L, 2L, 2L, 2L, 2L, 2L, 1L))
  }

  test("SQL entry path: all six reference SELECTs match the programmatic builders") {
    Pipeline.registerViews(star)
    val sql = Map(
      "graf1" -> """SELECT country, COUNT(movie_id) AS number_of_movies FROM dim_movies
                   |WHERE country IN ('USA','India') AND year = 2019
                   |GROUP BY country ORDER BY number_of_movies DESC""".stripMargin,
      "graf2" -> """SELECT dg.genre_name AS genre, ROUND(AVG(fm.duration),2) AS avg_duration
                   |FROM dim_genres dg JOIN fact_movies fm ON dg.genre_id = fm.genre_id
                   |GROUP BY dg.genre_name ORDER BY avg_duration DESC""".stripMargin,
      "graf3" -> """SELECT dp.name AS director_name, COUNT(fm.movie_id) AS movie_count
                   |FROM fact_movies fm JOIN dim_people dp ON fm.director_id = dp.person_id
                   |GROUP BY dp.name ORDER BY movie_count DESC LIMIT 10""".stripMargin,
      "graf5" -> """SELECT dp.name AS actor_name, COUNT(*) AS total_roles
                   |FROM role_mapping_staging rm JOIN dim_people dp ON rm.name_id = dp.person_id
                   |WHERE rm.category IN ('actor','actress')
                   |GROUP BY dp.name ORDER BY total_roles DESC LIMIT 10""".stripMargin,
      "graf6" -> """SELECT country, COUNT(movie_id) AS movie_count FROM dim_movies
                   |GROUP BY country ORDER BY movie_count DESC LIMIT 10""".stripMargin)
    val programmatic = Pipeline.queries(star)
    // LIMIT queries are tie-nondeterministic (SURVEY §1.4(5)): compare the
    // multiset of the VALUE columns' sorted counts, not exact row sets.
    for ((name, q) <- sql) {
      // value col may be long (counts) or double (graf2 avg): compare as strings
      val a = spark.sql(q).collect().map(r => String.valueOf(r.get(1))).sorted.toSeq
      val b = programmatic(name).collect().map(r => String.valueOf(r.get(1))).sorted.toSeq
      assert(a === b, s"$name value multiset mismatch")
    }
    // graf4 (no LIMIT ambiguity in the final projection beyond rank ties):
    val g4sql = spark.sql(
      """WITH top3_genre AS (
        |  SELECT dg.genre_name, COUNT(fm.movie_id) AS movie_count
        |  FROM fact_movies fm JOIN dim_genres dg ON fm.genre_id = dg.genre_id
        |  JOIN ratings_staging r ON fm.movie_id = r.movie_id
        |  WHERE r.avg_rating > 6 GROUP BY dg.genre_name
        |  ORDER BY movie_count DESC LIMIT 3),
        |top3_director AS (
        |  SELECT dp.name AS director_name, COUNT(fm.movie_id) AS movie_count, dg.genre_name,
        |    ROW_NUMBER() OVER (PARTITION BY dg.genre_name ORDER BY COUNT(fm.movie_id) DESC) AS director_rank
        |  FROM fact_movies fm JOIN dim_people dp ON fm.director_id = dp.person_id
        |  JOIN dim_genres dg ON fm.genre_id = dg.genre_id
        |  JOIN ratings_staging r ON fm.movie_id = r.movie_id
        |  WHERE dg.genre_name IN (SELECT genre_name FROM top3_genre) AND r.avg_rating > 6
        |  GROUP BY dp.name, dg.genre_name)
        |SELECT director_name, movie_count FROM top3_director WHERE director_rank <= 3""".stripMargin)
    assert(g4sql.count() === programmatic("graf4").count())
  }

  test("teardown drops the six staging views") {
    val star2 = Pipeline.build(spark)
    Pipeline.registerViews(star2)
    Pipeline.teardownStaging(spark, star2)
    assert(!spark.catalog.tableExists("movies_staging"))
    assert(spark.catalog.tableExists("dim_movies")) // star survives
  }

  test("'NULL' string policy: literal NULL markers become SQL nulls") {
    val names = star.staging("name_staging")
    assert(names.count() === 1000L) // PERMISSIVE: no rows dropped
    assert(names.filter("known_for_movies IS NULL").count() > 800L)
    assert(names.filter("known_for_movies = 'NULL'").count() === 0L)
  }

  test("dropMalformed flag emulates Snowflake ON_ERROR=CONTINUE row skipping") {
    val dropped = Extract.readCsv(spark,
      s"${Pipeline.referenceData(spark)}/names.csv",
      Schemas.names, dropMalformed = true)
    // Snowflake skipped the rows whose height/date_of_birth is the literal
    // 'NULL'; with nullValue handling those parse fine, so DROPMALFORMED
    // keeps EXACTLY all 1,000 (documented divergence, SURVEY §1.4(2)) —
    // pinned so any drift in the CSV parse policy fails here
    assert(dropped.count() === 1000L)
  }
}
