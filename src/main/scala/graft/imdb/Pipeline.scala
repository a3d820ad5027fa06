package graft.imdb

import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end orchestration of the reference ETL
  * (/root/reference/etl_imdb_db.sql + dashboard_visualizations.sql).
  *
  * Ordering is load-bearing (SURVEY.md §3.3): Graf 4 reads
  * ratings_staging, which the reference's Load phase drops — so the flow
  * is extract → transform → queries → teardown, and queries take staging
  * DataFrames as inputs rather than catalog lookups after teardown.
  */
final case class Star(
    staging: Map[String, DataFrame],
    dimMovies: DataFrame,
    dimPeople: DataFrame,
    dimGenres: DataFrame,
    factMovies: DataFrame)

object Pipeline {

  /** Default location of the reference CSVs (read-only); the DuckDB
    * twins in [[graft.OracleSql]] read the same directory. */
  val DefaultData = "/root/reference/imdb_db"

  /** The reference-data precondition every Spark read of the CSVs goes
    * through: returns `dir` if it holds all six staging files, and
    * otherwise fails naming the missing files and the expected
    * directory — instead of a raw PATH_NOT_FOUND at the first action. */
  def referenceData(spark: SparkSession, dir: String = DefaultData): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val missing = Schemas.files.values.map(_._2).toSeq.sorted.filterNot { f =>
      val p = new org.apache.hadoop.fs.Path(dir, f)
      p.getFileSystem(conf).exists(p)
    }
    require(missing.isEmpty,
      s"IMDB reference data missing: ${missing.mkString(", ")} not found " +
        s"in the expected directory $dir")
    dir
  }

  def build(spark: SparkSession, baseDir: String = DefaultData,
            dropMalformed: Boolean = false): Star = {
    val staging = Extract.readAll(spark, referenceData(spark, baseDir),
      dropMalformed)
    val dm = Transform.dimMovies(staging("movies_staging"))
    val dp = Transform.dimPeople(
      staging("name_staging"),
      staging("role_mapping_staging"),
      staging("director_mapping_staging"))
    val dg = Transform.dimGenres(staging("genres_staging"))
    val fm = Transform.factMovies(
      staging("movies_staging"), staging("ratings_staging"),
      staging("genres_staging"), dg, dp)
    Star(staging, dm, dp, dg, fm)
  }

  /** All six dashboard queries off a built star. */
  def queries(star: Star): Map[String, DataFrame] = Map(
    "graf1" -> Queries.graf1(star.dimMovies),
    "graf2" -> Queries.graf2(star.dimGenres, star.factMovies),
    "graf3" -> Queries.graf3(star.factMovies, star.dimPeople),
    "graf4" -> Queries.graf4(star.factMovies, star.dimPeople, star.dimGenres,
      star.staging("ratings_staging")),
    "graf5" -> Queries.graf5(star.staging("role_mapping_staging"), star.dimPeople),
    "graf6" -> Queries.graf6(star.dimMovies))

  /** SQL entry path: register temp views so the reference's six SELECTs
    * run verbatim via spark.sql(...).
    *
    * `cacheStar` caches the dims + fact for multi-query dashboards — the
    * right call at the reference's scale, but an unconditional cache of a
    * fact table is a footgun at 100 TB (it evicts everything else for one
    * pass), so it is caller-opt-in and defaults to caching only the dims
    * (small by construction; the fact streams from source). */
  def registerViews(star: Star, cacheStar: Boolean = false): Unit = {
    star.staging.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    star.dimMovies.cache().createOrReplaceTempView("dim_movies")
    star.dimPeople.cache().createOrReplaceTempView("dim_people")
    star.dimGenres.cache().createOrReplaceTempView("dim_genres")
    (if (cacheStar) star.factMovies.cache() else star.factMovies)
      .createOrReplaceTempView("fact_movies")
  }

  /** Teardown — the reference's Load-phase DROPs (etl_imdb_db.sql:153-158).
    * Call only after the queries have run (§3.3). */
  def teardownStaging(spark: SparkSession, star: Star): Unit =
    star.staging.keys.foreach(spark.catalog.dropTempView)

  /** Catalog-namespace form of the reference's CREATE DATABASE/SCHEMA +
    * CTAS (etl_imdb_db.sql:1-5, 90-141): persist the star schema as
    * managed tables under `db`. At cluster scale the same call writes to
    * the metastore-backed warehouse; locally it is a directory. */
  def persistStar(spark: SparkSession, star: Star, db: String = "imdb_etl"): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    Map(
      "dim_movies" -> star.dimMovies,
      "dim_people" -> star.dimPeople,
      "dim_genres" -> star.dimGenres
    ).foreach { case (n, df) =>
      df.write.mode("overwrite").format("parquet").saveAsTable(s"$db.$n")
    }
    // the fact is hive-partitioned on its dominant filter key: genre_id
    // is BOUNDED (13 genres + the null partition for genre-less movies),
    // so a genre-predicate dashboard query opens only its own directory
    // — the same pruning contract Layout gives the events table
    // (LayoutSpec asserts PartitionFilters on a genre-filtered read).
    // CAVEAT for catalog consumers: partitionBy moves genre_id to the
    // END of the table schema, and null-genre rows land under the
    // __HIVE_DEFAULT_PARTITION__ directory — `SELECT * FROM db.fact_movies`
    // has a different column ORDER than star.factMovies. Read by name
    // (select explicit columns), never by position.
    star.factMovies.write.mode("overwrite").format("parquet")
      .partitionBy("genre_id").saveAsTable(s"$db.fact_movies")
  }

  /** The reference's `SELECT * FROM t` inspection sink
    * (etl_imdb_db.sql:84-88, 146-149): print the head of each star
    * table. Driver-side display only — never used in pipelines. */
  def inspect(spark: SparkSession, star: Star, rows: Int = 5): Unit = {
    star.staging.foreach { case (n, df) => println(s"-- $n"); df.show(rows, truncate = false) }
    Seq("dim_movies" -> star.dimMovies, "dim_people" -> star.dimPeople,
      "dim_genres" -> star.dimGenres, "fact_movies" -> star.factMovies)
      .foreach { case (n, df) => println(s"-- $n"); df.show(rows, truncate = false) }
  }
}
