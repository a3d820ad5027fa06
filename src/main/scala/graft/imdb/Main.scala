package graft.imdb

import org.apache.spark.sql.SparkSession

/** CLI entry point — the runnable form of the reference's two worksheets
  * (/root/reference/etl_imdb_db.sql + dashboard_visualizations.sql):
  *
  *   sbt "runMain graft.imdb.Main --data /root/reference/imdb_db --out /tmp/star"
  *
  * Flow (ordering is load-bearing, SURVEY.md §3.3): extract → transform →
  * write star schema → run the six dashboard queries → write results →
  * teardown staging. Graf 4 reads ratings_staging, which teardown drops —
  * queries must run first, exactly like the reference worksheet order.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val data = opts.getOrElse("data", Pipeline.DefaultData)
    val out = opts.getOrElse("out", "/tmp/graft-star")
    val spark = SparkSession.builder()
      .appName("graft-imdb-etl")
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        graft.Env.int("SPARK_GRAFT_CPUS", 32).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val star = Pipeline.build(spark, data)
      // persist the star schema (the reference's CTAS materialization)
      Map(
        "dim_movies" -> star.dimMovies,
        "dim_people" -> star.dimPeople,
        "dim_genres" -> star.dimGenres,
        "fact_movies" -> star.factMovies
      ).foreach { case (n, df) =>
        df.write.mode("overwrite").parquet(s"$out/$n")
        println(s"[graft] wrote $out/$n")
      }
      // dashboard queries BEFORE teardown (§3.3)
      Pipeline.queries(star).foreach { case (n, df) =>
        df.write.mode("overwrite").parquet(s"$out/queries/$n")
        println(s"[graft] wrote $out/queries/$n")
      }
      // optional catalog persistence (--db imdb_etl) and inspection (--show n)
      opts.get("db").foreach { db =>
        Pipeline.persistStar(spark, star, db)
        println(s"[graft] persisted star schema as $db.*")
      }
      opts.get("show").foreach(n => Pipeline.inspect(spark, star, n.toInt))
      Pipeline.registerViews(star)
      Pipeline.teardownStaging(spark, star)
      println(s"[graft] done: star schema + 6 queries under $out")
    } finally spark.stop()
  }
}
