package graft.tools
import graft._
import org.apache.spark.sql.functions._
/** Dev-only: isolate where time goes on tiny inputs. */
object Probe {
  def t[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"PROBE $label%-32s ${(System.nanoTime() - t0) / 1e9}%7.2f s"); r
  }
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.001"
    val spark = GraftSession.get(8)
    import spark.implicits._
    t("read+count 1")(Tables.lineitem(spark, dir).count())
    t("read+count 2")(Tables.lineitem(spark, dir).count())
    val cached = t("read once")(Tables.lineitem(spark, dir))
    t("count cached plan 1")(cached.count())
    t("count cached plan 2")(cached.count())
    t("plain double agg")(
      Tables.lineitem(spark, dir).groupBy($"l_returnflag").agg(sum($"l_quantity")).count())
    t("plain double agg 2")(
      Tables.lineitem(spark, dir).groupBy($"l_returnflag").agg(sum($"l_quantity")).count())
    t("decimal agg")(
      Tables.lineitem(spark, dir).groupBy($"l_returnflag")
        .agg(sum($"l_quantity".cast("decimal(18,2)"))).count())
    t("q1 plan only")(SparkEntry.queries("q1_pricing_summary")(spark, dir))
    t("q1 exec 1")(SparkEntry.queries("q1_pricing_summary")(spark, dir).count())
    t("q1 exec 2")(SparkEntry.queries("q1_pricing_summary")(spark, dir).count())
    t("q1 exec 3")(SparkEntry.queries("q1_pricing_summary")(spark, dir).count())
    spark.stop()
  }
}
/** Dev-only: plan-smell audit across every registered query. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.GraftSession.get(8)
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        val plan = df.queryExecution.executedPlan.toString
        val smells = Seq(
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          "SortMergeJoin" -> plan.contains("SortMergeJoin"),
          "noPushedFilters" -> (plan.contains("PushedFilters: []") && plan.contains("Filter")),
          "BroadcastNestedLoop" -> plan.contains("BroadcastNestedLoopJoin")
        ).collect { case (s, true) => s }
        val nEx = "Exchange".r.findAllIn(plan).length
        println(f"AUDIT $name%-22s exchanges=$nEx%2d ${if (smells.isEmpty) "ok" else smells.mkString(",")}")
      } catch { case e: Throwable => println(s"AUDIT $name ERROR ${e.getMessage.take(80)}") }
    }
    spark.stop()
  }
}
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.get(8)
    val df = graft.SparkEntry.queries(args(0))(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    p.split("\n").filter(l => l.contains("Join") || l.contains("Exchange") || l.contains("Scan") || l.contains("Cartesian")).foreach(l => println("PLANLINE " + l.take(200)))
    spark.stop()
  }
}
/** Dev-only: dump full formatted physical plans for the headline queries
  * (source for the committed PLANS.md evidence artifact).
  */
object PlansDoc {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = Seq("q1_pricing_summary", "q5_region_revenue", "etl_clean_text",
      "dd_minhash_lsh", "dd_embedding", "dd_simhash", "sim_bruteforce_topk",
      "q_asof_join", "gr_edges", "gr_graph_stats", "an_comment_buckets",
      "tx_keyterms", "sim_ivf_topk", "tx_pii_scrub",
      // late-r10 additions
      "q_bloom_prune", "etl_scd2", "an_hist_quantiles", "an_concurrency",
      "etl_chunk_overlap", "gr_random_walks", "sim_mmr_topk")
    val spark = graft.GraftSession.get(8)
    names.foreach { n =>
      println(s"===== $n =====")
      graft.SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    // one min-label iteration round over the node-partitioned numeric
    // iteration relation — the per-round shape the iterative graph ops
    // share (numeric labels keep the partial aggregate hash-based)
    locally {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val g = graft.operators.GraphOps
      val u = g.iterRelation(g.numericUnd(spark, dir))
      val lbls = u.select($"node").distinct()
        .select($"node", $"node".as("lbl")).localCheckpoint(true)
      // neighbor-min (exchange-free over the cached relation) + least(own)
      // through the same reused broadcast — the components round shape
      val l2 = lbls.withColumnRenamed("node", "nb0")
      val round = u.join(broadcast(l2), $"nb" === $"nb0")
        .groupBy($"node").agg(min($"lbl").as("nl"))
        .join(broadcast(l2), $"node" === $"nb0")
        .select($"node", least($"nl", $"lbl").as("lbl"))
      println("===== graph_iteration_round =====")
      round.explain("formatted")
      // one pagerank round over the dst-partitioned norm relation — the
      // aggregation must be exchange-free (no Exchange between the
      // broadcast join and the HashAggregate pair)
      val wdeg = u.groupBy($"node").agg(sum(lit(1L)).as("wd")).localCheckpoint(true)
      val norm = u.join(broadcast(wdeg), "node")
        .select($"node".as("src"), $"nb".as("dst"), (lit(1.0) / $"wd").as("p"))
        .repartition($"dst").persist()
      // materialize the cache first: rounds 2+ plan against the FINALIZED
      // cached partitioning (AQE can only report it after execution), and
      // that steady-state round is the shape that matters 9 times out of 10
      norm.count()
      val ranks = wdeg.select($"node", lit(1.0).as("r")).localCheckpoint(true)
      val prRound = norm
        .join(broadcast(ranks.withColumnRenamed("node", "src0")), $"src" === $"src0")
        .groupBy($"dst").agg(sum($"r" * $"p").as("contrib"))
      println("===== pagerank_round =====")
      prRound.explain("formatted")
    }
    spark.stop()
  }
}
