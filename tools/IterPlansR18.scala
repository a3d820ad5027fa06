package graft.operators
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Emits the r18 ROUND-KERNEL plans for the iterate-broadcast posture
  * (`Graph.iterMapJoin`): the registered queries' final explains read
  * checkpointed iterates (ExistingRDD), so the per-round join shape —
  * where the posture change lives — needs its own record (the r17
  * CoreRoundPlan discipline). Each kernel body is
  * reproduced VERBATIM from the operator source; `before` is the
  * identity posture (the 8c426d7/e7d15cc shape — below the floor the
  * shipped code still runs exactly this), `after` the broadcast
  * posture the same kernel takes above the floor. Auto-broadcast is
  * disabled so the fixture's tiny sizes cannot fake the 10x shapes.
  *
  * Representatives (the others share these bodies):
  *  - pagerank_round: prStep — also the ppr / trajectory / converged
  *    body (ppr differs only in the LEFT sum join, same build side)
  *  - kcore_round: coreDeg — two membership joins
  *  - coreness_round: value-grouped h-index round
  *  - hits_halfstep: authority half-step (eigencentrality's sums join
  *    is the same shape over the symmetrized adjacency)
  *  - harmonic_hop: one frontier expansion + visited anti join (bfs
  *    and betweenness-forward share it; betweenness-backward adds two
  *    more bounded-side joins of the same class)
  */
object IterPlansR18 {
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.001"
    val outDir = Paths.get("/root/repo/plans/r18")
    Files.createDirectories(outDir)
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.syntax._
    def dump(df: DataFrame, name: String): Unit = {
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(outDir.resolve(name), txt)
      println(s"WROTE $name chars=${txt.length}")
    }
    def both(name: String)(kernel: (DataFrame => DataFrame) => DataFrame): Unit = {
      dump(kernel(identity), s"${name}_before.txt")
      dump(kernel(broadcast), s"${name}_after.txt")
    }

    val e = graft.operators.Dedup.minhashLshPairs(spark, dir)
      .select($"doc_a".as("a"), $"doc_b".as("b")).localCheckpoint(true)
    val adj = e.select($"a".as("src"), $"b".as("dst"))
      .unionAll(e.select($"b".as("src"), $"a".as("dst"))).localCheckpoint(true)
    val nodes = adj.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val n = nodes.agg(count(lit(1)).as("n"))

    // ---- pagerank round (prStep verbatim) ----
    val ranks0 = nodes.crossJoin(broadcast(n))
      .select($"node", $"deg", $"n", round(lit(1.0) / $"n", 8).as("pr"))
      .localCheckpoint(true)
    both("graph_pagerank_round") { bc =>
      val contrib = adj
        .join(bc(ranks0.select($"node", ($"pr" / $"deg").as("c"))),
          $"src" === $"node")
        .select($"dst", $"c".cast("decimal(27,10)").as("c"))
      val sums = contrib.groupBy($"dst").agg(sum($"c").as("sc"))
      nodes.crossJoin(broadcast(n))
        .join(bc(sums), $"node" === $"dst")
        .select($"node", $"deg", $"n",
          round(lit(0.15) / $"n" + lit(0.85) * $"sc".cast("double"), 8)
            .as("pr"))
    }

    // ---- kcore round (coreDeg verbatim) ----
    val members0 = adj.select($"src".as("node")).distinct().localCheckpoint(true)
    both("graph_kcore_round") { bc =>
      adj.join(bc(members0.select($"node".as("ms"))), $"src" === $"ms")
        .join(bc(members0.select($"node".as("md"))), $"dst" === $"md")
        .groupBy($"src").agg(count(lit(1)).as("d"))
        .select($"src".as("node"), $"d")
        .filter($"d" >= 3).select($"node")
    }

    // ---- coreness round (value-grouped h-index verbatim) ----
    val c0 = nodes.select($"node", $"deg".cast("long").as("cv"))
      .localCheckpoint(true)
    both("graph_coreness_round_r18") { bc =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"dst").orderBy($"nv".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      adj.join(bc(c0.select($"node".as("src"), $"cv".as("nv"))), "src")
        .groupBy($"dst", $"nv")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum($"cnt").over(w))
        .groupBy($"dst")
        .agg(max(least($"cum", $"nv")).as("cv"))
        .select($"dst".as("node"), $"cv")
    }

    // ---- hits authority half-step (verbatim) ----
    val eo = e.select($"a".as("src"), $"b".as("dst")).localCheckpoint(true)
    val hub0 = eo.select($"src".as("node")).distinct()
      .select($"node", lit(1.0).as("h")).localCheckpoint(true)
    both("graph_hits_halfstep") { bc =>
      val asums = eo
        .join(bc(hub0.select($"node", $"h".cast("decimal(27,10)").as("c"))),
          $"src" === $"node")
        .groupBy($"dst").agg(sum($"c").as("sa"))
      val anorm = asums.agg(sum($"sa").as("tot"))
      asums.crossJoin(broadcast(anorm))
        .select($"dst".as("node"),
          round($"sa".cast("double") / $"tot".cast("double"), 8).as("au"))
    }

    // ---- harmonic frontier hop (verbatim) ----
    val seeds = graft.sources.Tables.documents(spark, dir)
      .select($"doc_id").orderBy($"doc_id").limit(8)
      .select($"doc_id".as("start"))
    val visited0 = seeds.select($"start", $"start".as("node"), lit(0L).as("hops"))
      .localCheckpoint(true)
    both("graph_harmonic_hop") { bc =>
      bc(visited0.select($"start", $"node")).join(adj, $"node" === $"src")
        .select($"start", $"dst".as("node")).distinct()
        .join(bc(visited0.select($"start".as("vs"), $"node".as("vn"))),
          $"start" === $"vs" && $"node" === $"vn", "left_anti")
        .select($"start", $"node", lit(1L).as("hops"))
    }

    spark.stop()
  }
}
