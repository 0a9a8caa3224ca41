package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.sim.Similarity
import graft.text.{NearDup, TextOps}

/** Tier-engagement proof harness (VERDICT r10 #1, second half).
  *
  * The scaling-ratio study (ScaleGen ×10/×100 + Bench subsets → SCALE.md)
  * keeps dup RATE constant, so its pair volumes stay inside the driver
  * union-find tier by design. This main drives the two measured-size
  * strategy gates PAST their bounds with real operator traffic and
  * records that the distributed strategies actually engage:
  *
  *  1. dedupClusters' driver-local tier is gated at maxLocalPairs = 1 M
  *     measured pairs. A dup-DENSE ×100 corpus (ScaleGen anchorClusters
  *     mode: every light replica anchors on one base rewrite → cluster
  *     size ≈ twinFrac × mult) pushes the banded MinHash pair count past
  *     the bound, and the [scale] diag line + the returned frame prove
  *     the distributed pointer-jumping path ran (and resolved the same
  *     clusters the local path would).
  *  2. sizedSemiJoin is gated at maxBroadcastKeys = 4 M measured keys.
  *     The distinct 3-gram shingle set of the ×100 corpus (> 4 M keys,
  *     real decontamination-ladder traffic shape) must plan as a
  *     sort-merge left-semi; a 10 k-key control from the same corpus
  *     must plan as a broadcast. Both plans are printed as digests
  *     (join-operator line + exchange count).
  *
  * Run with the diag env so the gates narrate their decisions:
  *   SPARK_GRAFT_SCALE_DIAG=1 sbt "runMain graft.tools.ScaleTiers"
  */
object ScaleTiers {
  private def digest(df: org.apache.spark.sql.DataFrame): String = {
    val p = df.queryExecution.executedPlan.toString
    val join = p.linesIterator.find(l => l.contains("Join")).map(_.trim.take(60))
      .getOrElse("no-join")
    val ex = p.linesIterator.count(_.contains("Exchange"))
    s"$join /ex$ex"
  }

  /** The embedding-dedup scale measurement at ×`mult` (in-memory seeded
    * corpus, generation off the measured path): occupancy-adaptive
    * banding + clustering, with EXACT twin recall against the
    * generator's reconstructed twin predicate. Returns (vecs, pairs,
    * clustered, wall_s, twinsFound, twinsTotal). Run by the ×100 tier
    * run below.
    */
  def embDedupStudy(spark: org.apache.spark.sql.SparkSession, src: String,
                    mult: Int, targetOccupancy: Long = 128L)
      : (Long, Long, Long, Double, Long, Long) = {
    val emb = ScaleGen.scaleEmbeddings(Tables.embeddings(spark, src),
      mult = mult, twinFrac = 0.2).localCheckpoint(true)
    val nVecs = emb.count()
    val t2 = System.nanoTime()
    val embPairs = Similarity.lshNeighborPairsAuto(emb, "vec_id", "embedding",
      dims = 64, bands = 4, floorRowsPerBand = 5, minCosine = 0.9,
      targetOccupancy = targetOccupancy)
      .localCheckpoint(true)
    val nEmbPairs = embPairs.count()
    val embClusters = NearDup.dedupClusters(embPairs, "id_a", "id_b")
    val nEmbClustered = embClusters.count()
    val tEmb = (System.nanoTime() - t2) / 1e9
    // exact twin recall: rebuild the generator's twin predicate and
    // check each expected (anchor, twin) pair arrived
    val stride = ScaleGen.IdStride
    val twins = emb
      .select(pmod(col("vec_id"), lit(stride)).as("base"),
        (col("vec_id") / stride).cast("long").as("rep"))
      .filter(col("rep") > 1 && pmod(col("rep"), lit(2)) === 1 &&
        pmod(xxhash64(col("base"), col("rep"), lit("twin")), lit(1000)) < 200)
      .select((col("base") + (col("rep") - 1) * stride).as("id_a"),
        (col("base") + col("rep") * stride).as("id_b"))
    val nTwins = twins.count()
    val nTwinsFound = twins.join(embPairs, Seq("id_a", "id_b"), "left_semi").count()
    System.err.println(
      f"[tiers] embDedup x$mult vecs=$nVecs pairs=$nEmbPairs clustered=$nEmbClustered " +
      f"wall_s=$tEmb%.1f twin_recall=$nTwinsFound/$nTwins")
    (nVecs, nEmbPairs, nEmbClustered, tEmb, nTwinsFound, nTwins)
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = ToolSession.local()

    // ---- 1. union-find tier flip: dup-dense x100, clusters of ~30 ----
    val dense = ScaleGen.scaleDocuments(Tables.documents(spark, src),
      mult = 100, twinFrac = 0.3, anchorClusters = true)
      .localCheckpoint(true) // corpus generation off the measured path
    val t0 = System.nanoTime()
    val pairs = NearDup.minhashLshPairsFromRows(
      TextOps.wordShingleRows(dense, "doc_id", "text", 3), k = 16, bands = 8)
      .localCheckpoint(true)
    val nPairs = pairs.count()
    val tPairs = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val clusters = NearDup.dedupClusters(pairs, "id_a", "id_b")
    val nClustered = clusters.count()
    val nKeepers = clusters.select("keeper_id").distinct().count()
    val tClusters = (System.nanoTime() - t1) / 1e9
    val tierEngaged = nPairs > 1000000L
    System.err.println(
      f"[tiers] pairs=$nPairs (bound 1000000, distributed=${tierEngaged}) " +
      f"pairs_s=$tPairs%.1f clustered=$nClustered keepers=$nKeepers clusters_s=$tClusters%.1f")

    // ---- 2. sizedSemiJoin flip: >4M real shingle keys vs 10k control ----
    val shingles = TextOps.wordShingleRows(dense, "doc_id", "text", 3)
    val bigKeys = shingles.select(col("g")).distinct().localCheckpoint(true)
    val nBig = bigKeys.count()
    val probe = shingles
    val merged = TextOps.sizedSemiJoin(probe, bigKeys, "g")
    val mergedDigest = digest(merged)
    val nMergedRows = merged.count()
    val smallKeys = bigKeys.limit(10000).localCheckpoint(true)
    val bcast = TextOps.sizedSemiJoin(probe, smallKeys, "g")
    val bcastDigest = digest(bcast)
    System.err.println(
      s"[tiers] sizedSemiJoin big keys=$nBig plan={$mergedDigest} rows=$nMergedRows; " +
      s"control keys=10000 plan={$bcastDigest}")

    // ---- 3. embedding-dedup scale path: the q54 shape at x100 through
    // the occupancy-adaptive band width (the fixed 5-bit width is
    // ~2.5 B candidate pairs at 200 k vectors — measured quadratic; the
    // auto width restores linearity and must keep near-dup recall,
    // which we can measure exactly because ScaleGen's twin predicate is
    // reconstructible) ----
    val (nVecs, nEmbPairs, nEmbClustered, tEmb, nTwinsFound, nTwins) =
      embDedupStudy(spark, src, mult = 100)

    val line =
      f"""{"metric":"tiers","pairs":$nPairs,"pairs_bound":1000000,""" +
      f""""unionfind_distributed":$tierEngaged,"pairs_s":$tPairs%.1f,"clusters_s":$tClusters%.1f,""" +
      f""""clustered":$nClustered,"keepers":$nKeepers,""" +
      f""""semijoin_keys":$nBig,"semijoin_bound":4000000,""" +
      f""""semijoin_plan":"$mergedDigest","semijoin_control_plan":"$bcastDigest",""" +
      f""""emb_vecs":$nVecs,"emb_pairs":$nEmbPairs,"emb_clustered":$nEmbClustered,""" +
      f""""emb_wall_s":$tEmb%.1f,"emb_twin_found":$nTwinsFound,"emb_twin_total":$nTwins}"""
    try spark.stop() finally println(line)
  }
}
