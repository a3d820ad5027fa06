package perfbench

/** Fingerprints of result tables stored as parquet, for cross-checking
  * the recorded fingerprints against results produced elsewhere.
  *
  * Arguments: WORK_DIR OUT_FILE NAME=PARQUET_DIR...; writes
  * {"NAME": "rows:digest", ...} to OUT_FILE. */
object FingerprintFiles {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(new java.io.File(args(0)))
    val digests = args.drop(2).toSeq.map { a =>
      val Array(name, dir) = a.split("=", 2)
      val df = spark.read.parquet(dir)
      name -> Fingerprint.of(df.queryExecution.toRdd, df.schema).render
    }
    val out = new java.io.PrintWriter(args(1), "UTF-8")
    try out.println(Json.obj(digests)) finally out.close()
    spark.stop()
  }
}
