package graft

import org.apache.spark.sql.functions._

import graft.harness.{Harness, Record, Sample}

/** Off-toy scale proof for the graph-analytics family: the shuffle-path
  * PageRank, shuffle-path triangle count, and distributed min-label
  * connected components are the engine's beyond-gate (100 TB) formulations,
  * and before this harness they had only ever run on toy property-test
  * graphs. The gate overrides (`graft.pr.broadcastMaxNodes`,
  * `graft.tri.broadcastMaxEdges`, CC's `driverThreshold` parameter) force
  * each engine down BOTH paths on the SAME ≥10M-edge graph, so the artifact
  * records (a) that the far paths complete at real size with bounded
  * stragglers, (b) what the gated (broadcast/driver) paths cost at the same
  * size, and (c) that the two strategies agree bit-for-bit — the same
  * "measure the claim" discipline as [[ScaleDecontam]].
  *
  * Workload: a power-law random graph (`floor(N·u^2.5)` endpoints, u
  * uniform) — node 0 collects ~0.3% of all endpoint draws (a 10^4-degree
  * hub at the default size), which is exactly the skew the degree-ordered
  * orientation and the Pregel aggregate must survive. Edges are
  * materialized to parquet and re-read like a real input table.
  *
  * Also measured: the broadcast-path PageRank's driver-memory envelope —
  * the per-round collected contribution table (`collectS` in
  * [[graft.graph.Analytics.pageRank]]) as actual `SizeEstimator` bytes at
  * this node count, with the ×2 live-during-swap factor called out, so the
  * 10M-node gate default is justified by a measurement instead of an
  * estimate.
  */
object ScaleGraph {

  def main(args: Array[String]): Unit = {
    // Dev knob: run a subset of phases (e.g. SCALE_GRAPH_PHASES=cc) while
    // iterating on one engine. A partial run emits metric
    // "scale_graph_partial" so merge tooling can never fold it into the
    // round artifact in place of the full record.
    val phases = sys.env.getOrElse("SCALE_GRAPH_PHASES", "tri,pr,cc")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // fail fast on typos: an unrecognized token would otherwise silently run
    // zero phases and emit an all-zeros partial record
    require(phases.nonEmpty && phases.subsetOf(Set("tri", "pr", "cc")),
      s"SCALE_GRAPH_PHASES must be a non-empty subset of tri,pr,cc; got $phases")
    val allPhases = phases == Set("tri", "pr", "cc")
    val edgesN = sys.env.getOrElse("SCALE_EDGES", "10000000").toLong
    val nodesN = sys.env.getOrElse("SCALE_NODES", "2000000").toLong
    val prIters = sys.env.getOrElse("SCALE_PR_ITERS", "10").toInt
    val h = new Harness("scale_graph")
    val spark = h.spark
    import h.bestOf

    // --- synthetic power-law graph, materialized and re-read like real input
    val work = java.nio.file.Files.createTempDirectory("graft_scale_graph")
    TempCleanup.deleteOnExit(work)
    spark.range(edgesN).select(
        floor(pow(rand(7), 2.5) * nodesN).cast("long").as("src"),
        floor(pow(rand(11), 2.5) * nodesN).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .write.mode("overwrite").parquet(s"$work/edges.parquet")
    val edges = spark.read.parquet(s"$work/edges.parquet")

    // untimed shape diagnostics: the skew the far paths must survive
    val rawEdges = edges.count()
    val und = edges.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
    val distinctUnd = und.count()
    val degStats = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n"), max("d").as("dmax")).head
    val vertices = degStats.getLong(0)
    val maxDegree = degStats.getLong(1)

    import graft.graph.Analytics
    // a phase left out by SCALE_GRAPH_PHASES records zeros
    val skipped = Sample(0L, 0.0, 0.0, 0.0)

    // --- triangles: far (shuffle) path, then the gated (broadcast) path
    val (triShuffle, triBroadcast) = if (!phases("tri")) (skipped, skipped) else {
      System.setProperty("graft.tri.broadcastMaxEdges", "0")
      val tS = bestOf("tri_shuffle") {
        Analytics.triangleCount(edges).head.getLong(0)
      }
      System.setProperty("graft.tri.broadcastMaxEdges", Long.MaxValue.toString)
      val tB = bestOf("tri_broadcast") {
        Analytics.triangleCount(edges).head.getLong(0)
      }
      System.clearProperty("graft.tri.broadcastMaxEdges")
      require(tS.value == tB.value,
        s"triangle paths disagree: shuffle=${tS.value} broadcast=${tB.value}")
      (tS, tB)
    }

    // --- PageRank: far (shuffle Pregel) path, then the gated (driver-held
    // contribution table) path — identical integer arithmetic, so the two
    // rank tables must be bit-equal
    val (prShuffle, prBroadcast, prEqual, prCadenceJson) = if (!phases("pr"))
      (skipped, skipped, false, "{}")
    else {
      System.setProperty("graft.pr.broadcastMaxNodes", "0")
      // pin per-round cuts for the base run: the production default is the
      // cadence the r19 sweep chose (k=2), and the sweep's "1" row must
      // actually measure k=1
      System.setProperty("graft.pr.checkpointEvery", "1")
      val pS = bestOf("pr_shuffle") {
        val out = Analytics.pageRank(edges, prIters).localCheckpoint(true)
        out.count()
        out
      }
      System.clearProperty("graft.pr.checkpointEvery")
      // checkpoint-cadence probe (round-18 advice #7): the shuffle path cuts
      // lineage every round — 9 materializations over 10 rounds at this node
      // count. Sparser cuts (k rounds composed into one job) trade
      // blockstore writes for deeper plans; ranks must stay bit-equal.
      val cadenceSecs = Seq(2, 3).map { k =>
        System.setProperty("graft.pr.checkpointEvery", k.toString)
        val Sample(out, sec, _, _) = bestOf(s"pr_shuffle_ck$k") {
          val o = Analytics.pageRank(edges, prIters).localCheckpoint(true)
          o.count()
          o
        }
        System.clearProperty("graft.pr.checkpointEvery")
        require(out.except(pS.value).isEmpty && pS.value.except(out).isEmpty,
          s"cadence-$k ranks diverged from per-round checkpointing")
        k -> sec
      }
      val cadenceJson = Record.obj(((1 -> pS.sec) +: cadenceSecs).map { case (k, s) => k.toString -> s })
      // FORCE the broadcast path (the default gate is 100k nodes — measured
      // by this harness's own crossover probes — so a cleared prop would
      // silently measure the shuffle path twice at this size)
      System.setProperty("graft.pr.broadcastMaxNodes", Long.MaxValue.toString)
      val pB = bestOf("pr_broadcast") {
        val out = Analytics.pageRank(edges, prIters).localCheckpoint(true)
        out.count()
        out
      }
      System.clearProperty("graft.pr.broadcastMaxNodes")
      val eq = pS.value.except(pB.value).isEmpty && pB.value.except(pS.value).isEmpty
      (pS, pB, eq, cadenceJson)
    }

    // --- connected components: far (distributed min-label + pointer
    // jumping) path, then the gated (driver union-find) path FORCED at the
    // same size. The 2M-edge driver gate had never been judged by
    // measurement at scale: scale_dedup's 1.53M-pair CC sits under it, so
    // the distributed branch had only ever run on property-test graphs.
    // This graph is the harder CC stress than the dedup workload's many
    // small clusters — one giant component through a 10^4-degree hub, where
    // plain min-label propagation would need O(diameter) rounds and the
    // pointer-jumping compression has to do real work.
    import graft.er.ConnectedComponents
    val (ccDist, ccDriver, ccEqual, ccComponents) = if (!phases("cc"))
      (skipped, skipped, false, 0L)
    else {
      val cD = bestOf("cc_distributed") {
        val out = ConnectedComponents.run(edges, driverThreshold = 0L)
          .localCheckpoint(true)
        out.count()
        out
      }
      val cU = bestOf("cc_driver") {
        val out = ConnectedComponents.run(edges, driverThreshold = Long.MaxValue)
          .localCheckpoint(true)
        out.count()
        out
      }
      val eq = cD.value.except(cU.value).isEmpty && cU.value.except(cD.value).isEmpty
      val nComp = cD.value.select("component").distinct().count()
      (cD, cU, eq, nComp)
    }

    // --- driver-memory envelope of the broadcast path (untimed): build the
    // round-1 contribution table exactly as pageRank's collectS does and
    // measure the LIVE array with SizeEstimator. Two generations are alive
    // during each round's swap (cur + nxt), so the gate-edge envelope is
    // 2× this figure scaled to the gate's node count.
    val (sRows, sBytes) = if (!phases("pr")) (0L, 0L) else {
      val e = edges.select(col("src"), col("dst")).distinct()
      val eod = e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      val sArr = eod
        .select(col("dst").as("node_id"), expr(s"${1000000000L / vertices} div outdeg").as("c"))
        .groupBy("node_id").agg(sum("c").as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      (sArr.length.toLong, org.apache.spark.util.SizeEstimator.estimate(sArr))
    }

    val timed = Seq("tri_shuffle" -> triShuffle, "tri_broadcast" -> triBroadcast,
      "pr_shuffle" -> prShuffle, "pr_broadcast" -> prBroadcast,
      "cc_dist" -> ccDist, "cc_driver" -> ccDriver)
    val metric = if (allPhases) "scale_graph" else "scale_graph_partial"
    println(s"""{"metric":"$metric","edges":$rawEdges,"edges_param":$edgesN,"nodes_param":$nodesN,""" +
      s""""distinct_und_edges":$distinctUnd,"vertices":$vertices,"max_degree":$maxDegree,""" +
      s""""pr_iters":$prIters,"triangles":${triShuffle.value},""" +
      s""""tri_shuffle_sec":${triShuffle.sec},"tri_broadcast_sec":${triBroadcast.sec},""" +
      s""""pr_shuffle_sec":${prShuffle.sec},"pr_broadcast_sec":${prBroadcast.sec},""" +
      s""""pr_ckpt_cadence":$prCadenceJson,""" +
      s""""cc_dist_sec":${ccDist.sec},"cc_driver_sec":${ccDriver.sec},""" +
      s""""cc_components":$ccComponents,""" +
      s""""tri_paths_equal":${phases("tri")},"pr_paths_equal":$prEqual,"cc_paths_equal":$ccEqual,""" +
      s""""pr_driver_s_rows":$sRows,"pr_driver_s_bytes":$sBytes,""" +
      s""""stragglers":${Record.obj(timed.map { case (k, s) => k -> s.straggler })},""" +
      s""""loads":${Record.obj(timed.map { case (k, s) => k -> s.load })}}""")
    spark.stop()
  }
}
