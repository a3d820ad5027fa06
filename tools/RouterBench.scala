package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{Doc, Streams, Vec}

/** Throughput record for the five stateless streaming ingestion routers
  * (langid, source-NB, BPE pricer, IVF bucket, PQ encode) — the
  * measurement behind SCALING.md's router table. Each router's claimed
  * 100 TB story is "stateless per-row projection, unbounded throughput";
  * this main prices that claim in rows/sec on the bench box.
  *
  * Method: models trained once from the sf dir exactly as the
  * StreamingSpec parity tests build them (the IVF/PQ routers load the
  * PERSISTED parquet artifacts — the production restart seam); the
  * input corpus is the sf tables' real rows cycled to the target count
  * with fresh ids (row widths are the fixture's, volume is the knob);
  * each router processes one warmup micro-batch, then the timed rows
  * arrive in 4 micro-batches against a noop sink (no sink
  * materialization in the measurement), wall-clocked end to end.
  *
  * Not an sbt source: compiled ad hoc with tools/dev_sc against the
  * library classes (the tools/Plans.scala convention).
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_ROUTER_DOCS
  * (default 100000), SPARK_GRAFT_ROUTER_VECS (default 200000),
  * SPARK_GRAFT_ROUTER_OUT (default tools/bench_r17_routers.json).
  */
object RouterBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nDocs = graft.Env.long("SPARK_GRAFT_ROUTER_DOCS", 100000L)
    val nVecs = graft.Env.long("SPARK_GRAFT_ROUTER_VECS", 200000L)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_ROUTER_OUT",
      "tools/bench_r17_routers.json")
    val cpus = graft.Env.int("SPARK_GRAFT_CPUS", 32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val scratch = java.nio.file.Files
      .createTempDirectory("router-bench").toString

    // ---- models: trained once, exactly as the parity tests build them
    val corpus = graft.sources.Tables.documents(spark, sfDir)
    val trainSplit = corpus.filter($"doc_id" % 5 =!= 0)
    val langModel = graft.operators.TextAnalysis.langProfileOf(trainSplit)
    val nbModel = graft.operators.TextAnalysis.sourceNbModelOf(trainSplit)
    val merges = graft.operators.TextAnalysis.bpeMerges(spark, sfDir)
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val e = graft.sources.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val isNew = graft.functions.EngineNeutral.hash60(
      $"vec_id".cast("string")) % 8 === 0
    val idxPath = s"$scratch/ivf-artifact"
    graft.operators.Similarity.writeIvfIndex(
      graft.operators.Similarity.ivfCentroidVecs(e.filter(!isNew), nBits = 8),
      idxPath)
    val cbPath = s"$scratch/pq-artifact"
    graft.operators.Similarity.writePqCodebook(
      graft.operators.Similarity.pqCodebookTable(e.filter(!isNew)), cbPath)

    // ---- inputs: fixture rows cycled to the target count, fresh ids
    val t0 = 1700000000000L
    val texts = corpus.select($"text").collect().map(_.getString(0))
    def docRows(from: Long, n: Long): Seq[Doc] =
      (from until from + n).map(i => Doc(i,
        texts(java.lang.Math.floorMod(i, texts.length.toLong).toInt), new java.sql.Timestamp(t0 + i)))
    val embs = e.select($"vec_id", $"v").collect()
      .map(_.getSeq[Double](1))
    def vecRows(from: Long, n: Long): Seq[Vec] =
      (from until from + n).map(i => Vec(i,
        embs(java.lang.Math.floorMod(i, embs.length.toLong).toInt), new java.sql.Timestamp(t0 + i)))

    // ---- measurement: warmup batch, then 4 timed micro-batches
    var results = Vector.empty[(String, Long, Double)]
    def measureDocs(name: String, route: MemoryStream[Doc] => DataFrame): Unit = {
      val stream = MemoryStream[Doc]
      val q = route(stream).writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", s"$scratch/ck-$name")
        .start()
      try {
        stream.addData(docRows(-5000L, 5000L)); q.processAllAvailable()
        // stage (and driver-encode) the batches OUTSIDE the timer: a
        // distributed source pays input decode across the fleet; the
        // timed section is the routers' own per-row work + micro-batch
        // machinery, drained by one processAllAvailable. 32 staged
        // blocks -> 32 source partitions (MemoryStream parallelism is
        // one partition per addData block), matching the core count.
        val blocks = 32
        val per = nDocs / blocks
        for (b <- 0 until blocks) stream.addData(docRows(b * per, per))
        val t = System.nanoTime()
        q.processAllAvailable()
        val sec = (System.nanoTime() - t) / 1e9
        results :+= ((name, blocks * per, blocks * per / sec))
        println(f"ROUTER=$name ROWS=${blocks * per} SEC=$sec%.3f ROWS_PER_SEC=${blocks * per / sec}%.0f")
      } finally q.stop()
    }
    def measureVecs(name: String, route: MemoryStream[Vec] => DataFrame): Unit = {
      val stream = MemoryStream[Vec]
      val q = route(stream).writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", s"$scratch/ck-$name")
        .start()
      try {
        stream.addData(vecRows(-5000L, 5000L)); q.processAllAvailable()
        val blocks = 32
        val per = nVecs / blocks
        for (b <- 0 until blocks) stream.addData(vecRows(b * per, per))
        val t = System.nanoTime()
        q.processAllAvailable()
        val sec = (System.nanoTime() - t) / 1e9
        results :+= ((name, blocks * per, blocks * per / sec))
        println(f"ROUTER=$name ROWS=${blocks * per} SEC=$sec%.3f ROWS_PER_SEC=${blocks * per / sec}%.0f")
      } finally q.stop()
    }

    // ---- r18: END-TO-END FILE-SOURCE legs (the r17 ledger's gap §F:
    // MemoryStream feeds pre-parsed rows, so the ~100k rows/s records
    // cover routing but not source DECODE). Here the same doc rows are
    // staged as real files — JSONL (the ingest worst case: full text
    // parse per row) and parquet (the production landing format) — and
    // ONE representative router (langid, the text-heavy one) reads them
    // through a file streaming source into the same noop sink. The
    // timed section starts at query start: listing, decode, routing and
    // micro-batch machinery are all inside the clock.
    def measureDocsFile(name: String, fmt: String): Unit = {
      import org.apache.spark.sql.types._
      val dir = s"$scratch/src-$name"
      val staged = spark.createDataset(docRows(0L, nDocs))
        .repartition(32) // 32 files ≈ one per core, the fleet's shape
      if (fmt == "json") staged.write.mode("overwrite").json(dir)
      else staged.write.mode("overwrite").parquet(dir)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("ingest_ts", TimestampType)))
      val reader = spark.readStream.schema(schema)
      val src = (if (fmt == "json") reader.json(dir) else reader.parquet(dir))
        .as[Doc]
      val t = System.nanoTime()
      val q = Streams.langIdRouter(src, langModel).writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", s"$scratch/ck-$name")
        .start()
      try {
        q.processAllAvailable()
        val sec = (System.nanoTime() - t) / 1e9
        results :+= ((name, nDocs, nDocs / sec))
        println(f"ROUTER=$name ROWS=$nDocs SEC=$sec%.3f ROWS_PER_SEC=${nDocs / sec}%.0f")
      } finally q.stop()
    }

    measureDocs("langid", s => Streams.langIdRouter(s.toDS(), langModel))
    measureDocs("source_nb", s => Streams.nbRouter(s.toDS(), nbModel))
    measureDocs("bpe_pricer", s => Streams.bpeRouter(s.toDS(), merges))
    measureVecs("ivf_bucket", s => Streams.ivfRouter(s.toDS(), spark, idxPath))
    measureVecs("pq_encode", s => Streams.pqRouter(s.toDS(), spark, cbPath))
    measureDocsFile("langid_file_json", "json")
    measureDocsFile("langid_file_parquet", "parquet")

    val json = results.map { case (n, r, rps) =>
      f""""$n":{"rows":$r,"rows_per_sec":$rps%.0f}"""
    }.mkString("{", ",", s""","sf":"$sfDir","cpus":$cpus}""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(s"WROTE=$outPath")
    spark.stop()
  }
}
