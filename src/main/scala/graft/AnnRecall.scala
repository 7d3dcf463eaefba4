package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.CosineSimilarity
import graft.operators.{Dedup, Similarity}

/** ANN recall measurement at arbitrary SF — the evidence the small-SF
  * spec floors cannot give: banding/probe curves shift with corpus size,
  * so the floors pinned at 500 vectors need a measured counterpart at
  * the scaled SFs (200k vectors at sf10).
  *
  *   runMain graft.AnnRecall <sfDir>
  *
  * Two protocols:
  *
  *  1. Serving recall@3 — sim_lsh/ivf/pq/ivfpq_topk against the exact
  *     brute-force top-3 over the same fixed query set (vec_id < 10),
  *     the SimilaritySpec measurement re-run at scale.
  *  2. Dedup pair recall (sampled) — dd_embedding_blocked under BOTH
  *     forced quantizers (flat IVF and two-level IMI): exact ground
  *     truth is every cos ≥ 0.3 pair touching a 512-vector deterministic
  *     probe sample (512 × n native cosines — the all-pairs truth is
  *     n²/2 and unpayable at scale, which is the point of the operator),
  *     recall = fraction of those pairs the blocked candidates recover.
  *
  * Diagnostic main — not part of the driver contract; results land in
  * SURVEY's scale-evidence table.
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: AnnRecall <sfDir>")
    val sfDir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- 1. serving recall@3 vs brute force ----------------------------
    val exact = Similarity.topkBruteforce(spark, sfDir).collect()
      .filter(_.getAs[Long]("rank") <= 3)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "sim_lsh_topk" -> (Similarity.lshTopk _),
      "sim_ivf_topk" -> (Similarity.ivfTopk _),
      "sim_pq_topk" -> (Similarity.pqTopk _),
      "sim_ivfpq_topk" -> (Similarity.ivfPqTopk _)
    ).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val got = fn(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
      val wall = (System.nanoTime() - t0) / 1e9
      val recall = (exact & got).size.toDouble / exact.size
      println(f"RECALL $name%s recall@3=$recall%.3f truth=${exact.size}%d " +
        f"wall=$wall%.1fs")
      Tables.releaseIntermediates(spark)
    }

    // ---- 2. dedup pair recall, probe-sampled ground truth ---------------
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val probes = emb
      .orderBy(xxhash64(lit(7L), col("vec_id")))
      .limit(512)
      .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
    // truth stratified by cosine band: IVF blocking recall is
    // cosine-dependent by construction (same-cell probability rises with
    // similarity), so one number at the operator's 0.3 floor would hide
    // the near-dup band the operator exists for
    val bands = Seq(0.3, 0.5, 0.7, 0.9)
    val truthRows = emb.join(broadcast(probes), col("vec_id") =!= col("p_id"))
      .select(col("p_id"), col("vec_id"),
        CosineSimilarity(col("p_emb"), col("embedding")).as("cos"))
      .filter(col("cos") >= 0.3)
      .select(least(col("p_id"), col("vec_id")).as("vec_a"),
        greatest(col("p_id"), col("vec_id")).as("vec_b"), col("cos"))
      .dropDuplicates("vec_a", "vec_b").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val truth = truthRows.map(_._1).toSet
    val probeIds = probes.select("p_id").collect().map(_.getLong(0)).toSet
    println(s"DEDUP-TRUTH probes=${probeIds.size} pairs=${truth.size}")
    Seq("ivf", "imi").foreach { side =>
      Tables.withConf(spark, "spark.sql.graft.embBlocking" -> side) {
        val t0 = System.nanoTime()
        val found = Dedup.embeddingCosBlocked(spark, sfDir).collect()
          .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
          .filter(p => probeIds.contains(p._1) || probeIds.contains(p._2))
          .toSet
        val wall = (System.nanoTime() - t0) / 1e9
        val perBand = bands.zip(bands.tail :+ 1.01).map { case (lo, hi) =>
          val t = truthRows.filter { case (_, c) => c >= lo && c < hi }
          val r = if (t.isEmpty) Double.NaN
            else t.count(p => found.contains(p._1)).toDouble / t.size
          f"[$lo%.1f,${math.min(hi, 1.0)}%.1f)=${r}%.3f(n=${t.size}%d)"
        }.mkString(" ")
        val recall =
          if (truth.isEmpty) 1.0
          else (truth & found).size.toDouble / truth.size
        println(f"RECALL dd_embedding_blocked[$side%s] pairRecall=$recall%.3f " +
          f"found=${found.size}%d truth=${truth.size}%d wall=$wall%.1fs")
        println(s"  byBand[$side] $perBand")
      }
      Tables.releaseIntermediates(spark)
    }
    spark.stop()
  }
}
