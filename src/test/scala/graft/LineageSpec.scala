package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.{Bpe, Dedup, Graph}
import graft.sim.Similarity
import graft.util.{Lineage, Tables}

/** Reliable-checkpoint mode for iterative operators: setting
  * `spark.graft.checkpointDir` must change ONLY the recovery story —
  * results are bit-identical to the localCheckpoint default, and the
  * truncated blocks actually land in the durable directory (on a real
  * cluster that's what survives executor loss).
  */
class LineageSpec extends SparkSpec {
  import spark.implicits._

  private def ckptDir(): String =
    Files.createTempDirectory("graft-ckpt").toString

  test("every iterative operator returns identical results in local and reliable mode") {
    val docs = Tables.documents(spark, sfDir).limit(200).cache()
    val embs = Tables.embeddings(spark, sfDir).limit(200).cache()
    val pairs = docs.select(($"doc_id" % 40).as("id_a"), ($"doc_id" % 55).as("id_b"))
    val nodes = docs.select(($"doc_id" % 50).as("id")).distinct()
    val edges = nodes.select($"id".as("src"), (($"id" * 7 + 3) % 50).as("dst"))
      .withColumn("outdeg", lit(1L))

    def runAll(): Seq[Set[String]] = Seq(
      Dedup.connectedComponents(pairs).as[(Long, Long)].collect()
        .map(_.toString).toSet,
      // materializes its input once, then the pairs, then components
      Dedup.dedupedCorpus(docs, "text", "doc_id").collect()
        .map(_.toString).toSet,
      // the distributed path connectedComponents runs on large pair sets
      Dedup.connectedComponentsStar(pairs).as[(Long, Long)].collect()
        .map(_.toString).toSet,
      Graph.pageRank(nodes, edges, iters = 3).as[(Long, Long)].collect()
        .map(_.toString).toSet,
      Similarity.kmeans(embs, "embedding", "vec_id", k = 4, iters = 2)
        .collect().map(_.toString).toSet,
      Bpe.train(docs.limit(50), "text", iters = 4).collect()
        .map(_.toString).toSet,
      graft.ops.Classifier.trainScored(docs, "text", "doc_id",
        $"source" === "web", m = 64, iters = 2).collect()
        .map(_.toString).toSet)

    val local = runAll()
    val dir = ckptDir()
    val reliable = withSQLConf(Lineage.ConfKey -> dir)(runAll())
    local.zip(reliable).zipWithIndex.foreach { case ((l, r), i) =>
      assert(l == r, s"operator #$i diverged between checkpoint modes")
    }
    // the reliable run actually wrote durable checkpoint blocks
    def rddFiles(d: java.io.File): Long =
      if (d.isDirectory) d.listFiles().map(rddFiles).sum
      else if (d.getName.startsWith("part-")) 1L else 0L
    assert(rddFiles(new java.io.File(dir)) > 0,
      "reliable mode must write checkpoint blocks under the configured dir")
  }

  test("eager pair/sketch truncations honor the durable-checkpoint knob") {
    // the knob must cover EVERY eager truncation, not only the
    // iterative loops: winnow pairs and the KMV overlap sketch
    // materialize mid-operator, and a localCheckpoint there would be
    // exactly the unrecoverable-on-executor-loss lineage the knob
    // exists to prevent
    import graft.ops.{Sketch, TextAnalysis}
    val docs = Tables.documents(spark, sfDir).limit(120).cache()
    def runBoth(): Seq[Set[String]] = Seq(
      TextAnalysis.winnowPairs(docs, "text", "doc_id",
        k = 8, w = 4, minShared = 2, maxDf = 100).collect()
        .map(_.toString).toSet,
      Sketch.overlap(docs, "source", col("text"), k = 16).collect()
        .map(_.toString).toSet)
    val local = runBoth()
    val dir = ckptDir()
    val reliable = withSQLConf(Lineage.ConfKey -> dir)(runBoth())
    local.zip(reliable).zipWithIndex.foreach { case ((l, r), i) =>
      assert(l == r, s"operator #$i diverged between checkpoint modes")
    }
    def rddFiles(d: java.io.File): Long =
      if (d.isDirectory) d.listFiles().map(rddFiles).sum
      else if (d.getName.startsWith("part-")) 1L else 0L
    assert(rddFiles(new java.io.File(dir)) > 0,
      "reliable mode must write checkpoint blocks under the configured dir")
  }
}
