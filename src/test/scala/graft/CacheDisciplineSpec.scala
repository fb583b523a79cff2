package graft

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.Jobs

/** Cache discipline — queries that cache shared intermediates (shingle
  * and band tables, bucketed corpora, fingerprints) must release them
  * once their result is materialized (operators.CacheScope.eval): a
  * long-lived pipeline must not accumulate session-lifetime blocks.
  *
  * They must also leave every stage sizable by AQE. `graft.Main` leaves
  * `spark.sql.shuffle.partitions` at Spark's default of 200, while the
  * other suites, Bench and Verify run at the core count; a persisted
  * plan that ends in a shuffle keeps that many partitions
  * (operators.CacheScope), so it shows only at 200. */
class CacheDisciplineSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("cache-heavy catalog queries leave no session cache entries") {
    for (name <- Seq("dd_minhash_lsh", "dd_jaccard_verify",
        "dd_simhash_hamming", "dd_simhash_hamming2", "dd_embed_srp",
        "dd_dup_clusters", "dd_dedup_corpus", "dd_decontaminate",
        "ss_topk_srp", "ss_topk_ivf")) {
      SparkEntry.queries(name)(spark, sf).count()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left entries in the session cache manager")
    }
  }

  test("graft.checkpoint.dir is applied once per context, not once " +
      "per materialize call") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tempDir("graft-ckpt-spec").toString
    spark.conf.set("graft.checkpoint.dir", dir)
    try {
      val d = Seq(1, 2, 3).toDF("x")
      graft.operators.CacheScope.materialize(d)
      graft.operators.CacheScope.materialize(d.filter(col("x") > 1))
      graft.operators.CacheScope.materialize(d.filter(col("x") > 2))
      // SparkContext.setCheckpointDir mints a fresh UUID subdirectory
      // every time it runs — a per-call re-set litters one orphan dir
      // per iteration of every loop that materializes through here
      val subdirs = new java.io.File(dir).listFiles()
        .count(_.isDirectory)
      assert(subdirs == 1,
        s"$subdirs checkpoint UUID dirs created across 3 calls, want 1")
    } finally {
      spark.conf.unset("graft.checkpoint.dir")
    }
  }

  test("no job face runs a stage as wide as spark.sql.shuffle.partitions " +
      "at Main's 200; dd_curation_pipeline's rows equal those at 4") {
    val key = "spark.sql.shuffle.partitions"
    val mainPartitions = 200 // Spark's default, which graft.Main keeps
    val stages = mutable.ArrayBuffer.empty[(String, Int)]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          stages += e.stageInfo.name -> e.stageInfo.numTasks
        }
    }
    // the face's rows and the (stage name, tasks) of every stage it ran,
    // eager jobs during its construction included
    def run(face: String): (Seq[Row], Seq[(String, Int)]) = {
      val rows = SparkEntry.queries(face)(spark, sf).collect().toSeq
      ListenerBusDrain.drain(spark.sparkContext)
      stages.synchronized {
        val seen = stages.toList
        stages.clear()
        (rows, seen)
      }
    }
    val faces = Jobs.pipelines.values.flatten.map(_._1).toSeq.distinct.sorted
    val before = spark.conf.get(key)
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.conf.set(key, mainPartitions.toString)
      val results = faces.map(f => f -> run(f)).toMap
      val wide = for {
        (face, (_, seen)) <- results.toSeq.sortBy(_._1)
        (stage, tasks) <- seen if tasks >= mainPartitions
      } yield s"$face: $tasks tasks in '$stage'"
      assert(wide.isEmpty,
        s"stages as wide as $key=$mainPartitions:\n${wide.mkString("\n")}")
      assert(results.values.exists(_._2.nonEmpty), "the listener saw no stage")

      val curated = results("dd_curation_pipeline")._1
      assert(curated.nonEmpty)
      spark.conf.set(key, "4")
      assert(run("dd_curation_pipeline")._1 == curated,
        s"dd_curation_pipeline's rows depend on $key")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set(key, before)
    }
  }
}
