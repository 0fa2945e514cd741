package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.GraftSession
import graft.ops.{QueriesLlm, Tables}

/** Ground-truth RECALL audit for the near-dup streams (r18, VERDICT r17
  * task 2).
  *
  * r17 proved the caps BIND at sf10 density (12,653 contain postings and
  * 2,485 ngram buckets over cap, `LSH_AUDIT_r17_sf10.json`) and that the
  * walls are output-sized — but nothing compared the EMITTED pairs against
  * the generator's KNOWN variant structure, so cap-induced recall loss was
  * invisible: verified MinHash pairs grew 100.0× sf1→sf10 where the
  * naive arithmetic predicts ~110×, and the cluster output covers
  * 490,138 of 500,000 docs where sf1 covers 50,000/50,000.
  *
  * The generator (tools/bench_sf1.py, bench_sf10.py) stamps every
  * original sf0.1 doc with COPIES variants at doc_id + i*1,000,000 whose
  * text differs only by a ' variant marker v<i>' suffix — so the FAMILY
  * (doc_id % 1,000,000) is known ground truth. This main computes, per
  * stream, the exact-similarity truth over ALL within-family pairs (a
  * family self-join — C(100,2)·5,000 = 24.75 M exact Jaccard evaluations
  * at sf10, no LSH, no caps) and joins the operator's emitted pairs
  * against it:
  *
  *  - `word`  — [[QueriesLlm.shinglesDF]] sets, Jaccard ≥ 0.5 (the
  *    q_llm_dedup_near / _cluster / split_leakfree standard)
  *  - `ngram` — [[QueriesLlm.ngramsDF]] sampled char-5-gram sets,
  *    Jaccard ≥ 0.8 (q_llm_dedup_ngram; truth over the SAME sampled
  *    sets the operator defines — sampling quality itself is
  *    NgramRecallSpec's subject)
  *  - `contain` — |A∩B|/|A| ≥ 0.9 over UNPRUNED shingle sets, both
  *    directions (q_llm_dedup_contain; the emitted side counts
  *    intersections over df-pruned postings, so this measures the
  *    prune's recall too, like ContainRecallSpec at sf0.1)
  *
  * Recall is reported PER TRUE-SIMILARITY DECILE: an LSH miss near the
  * threshold is inherent banding probability (identical at every scale);
  * a miss at jac ≥ 0.9 is P < 1e-6 per pair for the 8×2 bands, so any
  * mass there indicts the caps. Cap-induced loss = sf10 recall below sf1
  * recall at the SAME decile. Also reported: docs holding ≥ 1 true word
  * pair (the legitimate cluster-coverage denominator) vs docs appearing
  * in ≥ 1 emitted pair — if equal, the 9,862 "uncovered" sf10 docs are
  * true singletons (families whose text is too short to survive the
  * marker suffix at the 0.5 threshold), not cap victims.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.RecallAudit
  * Prints one JSON line per stream (grep "RECALLAUDIT"); the close
  * protocol's recall gate (tools/bench_close.py) parses those lines.
  * Results land in SCALE.md §6.22 and bench_archive/RECALL_*.jsonl.
  */
object RecallAudit {
  private val FamRange = 1000000L // DOC_RANGE in tools/bench_sf1.py

  /** within-family (a, b, inter, sza, szb) with a < b — one exact pass,
    * both Jaccard and containment derive from it
    */
  private def famPairs(sets: DataFrame): DataFrame = {
    val fam = sets.toDF("doc_id", "hs")
      .withColumn("fam", col("doc_id") % FamRange)
    val a = fam.select(col("fam"), col("doc_id").as("a"), col("hs").as("ha"))
    val b = fam.select(col("fam"), col("doc_id").as("b"), col("hs").as("hb"))
    a.join(b, "fam").filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("ha"), col("hb"))).cast(LongType).as("inter"),
        size(col("ha")).cast(LongType).as("sza"),
        size(col("hb")).cast(LongType).as("szb"))
  }

  private def decile(simCol: org.apache.spark.sql.Column) =
    least(floor(simCol * 10).cast("int"), lit(9))

  /** truth vs emitted for a symmetric-Jaccard stream */
  private def jaccardStream(name: String, pairs: DataFrame, emitted: DataFrame,
      thr: Double): String = {
    val jac = col("inter").cast(DoubleType) /
      (col("sza") + col("szb") - col("inter"))
    val truth = pairs.withColumn("jac_t", jac).filter(col("jac_t") >= thr)
      .select(col("a"), col("b"), col("jac_t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val em = emitted.select(col("a"), col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val emCount = em.count()
    val emFam = em.filter(col("a") % FamRange === col("b") % FamRange)
    val emCross = emCount - emFam.count()
    val hitCnt = truth.join(em, Seq("a", "b"), "left_semi").count()
    val truthCnt = truth.count()
    val byDec = truth.withColumn("dec", decile(col("jac_t")))
      .join(em.withColumn("hit", lit(1)), Seq("a", "b"), "left")
      .groupBy("dec")
      .agg(count(lit(1)).as("truth"), sum(coalesce(col("hit"), lit(0))).as("hits"))
      .orderBy("dec").collect()
    val decJson = byDec.map { r =>
      val d = r.getAs[Int]("dec")
      val t = r.getAs[Long]("truth"); val h = r.getAs[Long]("hits")
      s""""${d / 10.0}":{"truth":$t,"emitted":$h,"recall":${if (t == 0) 1.0 else f"${h.toDouble / t}%.6f"}}"""
    }.mkString("{", ",", "}")
    val out = s"""{"stream":"$name","thr":$thr,"true_pairs":$truthCnt,""" +
      s""""emitted_pairs":$emCount,"emitted_within_family":${emCount - emCross},""" +
      s""""emitted_cross_family":$emCross,"true_pairs_hit":$hitCnt,""" +
      s""""recall":${if (truthCnt == 0) 1.0 else f"${hitCnt.toDouble / truthCnt}%.6f"},""" +
      s""""recall_by_true_jac_decile":$decJson}"""
    truth.unpersist(); em.unpersist()
    out
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf10")
    val spark = GraftSession.local(32)
      .config("spark.sql.shuffle.partitions", "64")
      .appName("recall-audit").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // ---------------------------------------------------------- word
      val sh = QueriesLlm.shinglesDF(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wordPairs = famPairs(sh)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val emWord = QueriesLlm.minhashPairs(sh, QueriesLlm.NumHashes,
        QueriesLlm.Bands, 0.5)
      println("RECALLAUDIT " + s"""{"dir":"$dir",""" +
        jaccardStream("word_minhash", wordPairs, emWord, 0.5).drop(1))

      // ----------------------------------------- cluster coverage truth
      val truthJac = col("inter").cast(DoubleType) /
        (col("sza") + col("szb") - col("inter"))
      val truthWord = wordPairs.filter(truthJac >= 0.5)
      val docsWithTrue = truthWord.select(explode(array(col("a"), col("b"))).as("d"))
        .distinct().count()
      val emWordDocs = emWord.select(explode(array(col("a"), col("b"))).as("d"))
        .distinct().count()
      val nDocs = Tables.t(spark, dir, "documents").count()
      println("RECALLAUDIT " + s"""{"dir":"$dir","stream":"cluster_coverage",""" +
        s""""n_docs":$nDocs,"docs_with_true_word_pair":$docsWithTrue,""" +
        s""""docs_in_emitted_word_pairs":$emWordDocs}""")

      // ------------------------------------------------------- contain
      val truthContain = wordPairs
        .select(col("a"), col("b"),
          (col("inter").cast(DoubleType) / col("sza")).as("ca"),
          (col("inter").cast(DoubleType) / col("szb")).as("cb"))
        .select(explode(array(
          struct(col("a").as("contained"), col("b").as("container"), col("ca").as("ct")),
          struct(col("b").as("contained"), col("a").as("container"), col("cb").as("ct"))
        )).as("p"))
        .select(col("p.contained"), col("p.container"), col("p.ct"))
        .filter(col("ct") >= 0.9)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val emContain = QueriesLlm.containPairs(sh, QueriesLlm.MaxBucket)
        .select(col("contained"), col("container"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val emCCount = emContain.count()
      val emCFam = emContain
        .filter(col("contained") % FamRange === col("container") % FamRange).count()
      val tcCount = truthContain.count()
      val tcHit = truthContain
        .join(emContain, Seq("contained", "container"), "left_semi").count()
      val cByDec = truthContain.withColumn("dec", decile(col("ct")))
        .join(emContain.withColumn("hit", lit(1)),
          Seq("contained", "container"), "left")
        .groupBy("dec")
        .agg(count(lit(1)).as("truth"), sum(coalesce(col("hit"), lit(0))).as("hits"))
        .orderBy("dec").collect()
        .map { r =>
          val d = r.getAs[Int]("dec")
          val t = r.getAs[Long]("truth"); val h = r.getAs[Long]("hits")
          s""""${d / 10.0}":{"truth":$t,"emitted":$h,"recall":${if (t == 0) 1.0 else f"${h.toDouble / t}%.6f"}}"""
        }.mkString("{", ",", "}")
      println("RECALLAUDIT " + s"""{"dir":"$dir","stream":"contain","thr":0.9,""" +
        s""""true_pairs":$tcCount,"emitted_pairs":$emCCount,""" +
        s""""emitted_within_family":$emCFam,"emitted_cross_family":${emCCount - emCFam},""" +
        s""""true_pairs_hit":$tcHit,""" +
        s""""recall":${if (tcCount == 0) 1.0 else f"${tcHit.toDouble / tcCount}%.6f"},""" +
        s""""recall_by_true_containment_decile":$cByDec}""")
      truthContain.unpersist(); emContain.unpersist()
      wordPairs.unpersist(); sh.unpersist()

      // --------------------------------------------------------- ngram
      val ng = QueriesLlm.ngramsDF(spark, dir)
        .filter(size(col("hs")) > 0) // audit-side only: truth needs real sets
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ngPairs = famPairs(ng)
      val emNgram = QueriesLlm.minhashPairs(ng, QueriesLlm.NgramHashes,
        QueriesLlm.NgramBands, 0.8, maxBucket = QueriesLlm.NgramMaxBucket)
      println("RECALLAUDIT " + s"""{"dir":"$dir",""" +
        jaccardStream("ngram_minhash", ngPairs, emNgram, 0.8).drop(1))
      ng.unpersist()
    } finally spark.stop()
  }
}
