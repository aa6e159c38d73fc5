package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Where the hash-keyed aux tables land (see the aux-export block). */
  val AuxDir = "/tmp/graft-aux"

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Aux exports for the two hash-keyed queries (q22 simhash, q23
    // embedding-LSH): the bucket keys are xxhash64-derived and cannot be
    // recomputed by another engine, so the Spark-computed signatures /
    // bucket assignments are exported and the oracle SQL replays the
    // pairing + exact-verify semantics over them end-to-end (VERDICT r3
    // item 4). Fixed absolute path because oracleSql is static text the
    // driver runs in DuckDB on this machine.
    try {
      import graft.operators.Dedup
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val sh = Dedup.simhashSignatures(docs, "doc_id", "text")
      sh.coalesce(1).write.mode("overwrite").parquet(s"$AuxDir/q22_sim")
      Dedup.simhashBlocks(sh, maxHamming = 3).coalesce(1)
        .write.mode("overwrite").parquet(s"$AuxDir/q22_blocks")
      Dedup.signBuckets(emb, "vec_id", "embedding", 6).coalesce(1)
        .write.mode("overwrite").parquet(s"$AuxDir/q23_buckets")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] aux export failed: ${e.getMessage}")
    }
    // q51/q52 structural-parity aux (VERDICT r4 item 7): the edge
    // snapshots and id universes DuckDB re-clusters from scratch. Same
    // deterministic generator calls as the queries themselves.
    try {
      import org.apache.spark.sql.functions._
      import graft.pipeline.{IncrementalPipeline, Pipeline, TranscriptGen}
      val tr = TranscriptGen.transcripts(spark, nBase = 50, dupsPerBase = 2)
      val run0 = Pipeline.run(tr)
      val gone = tr.select("conv_id").distinct().where(
        substring(col("conv_id"), 2, 9).cast("long") === 7 ||
          (substring(col("conv_id"), 2, 9).cast("long") === 11 &&
            split(col("conv_id"), "_").getItem(1).cast("int") === 2))
      run0.matchedEdges.select("conv_a", "conv_b").coalesce(1)
        .write.mode("overwrite").parquet(s"$AuxDir/q51_edges")
      tr.select("conv_id").distinct().coalesce(1)
        .write.mode("overwrite").parquet(s"$AuxDir/q51_universe")
      gone.coalesce(1).write.mode("overwrite").parquet(s"$AuxDir/q51_retract")
      // q52: the FULL combined run's matched edges — the recompute target
      // the incremental path must match
      run0.matchedEdges.select("conv_a", "conv_b").coalesce(1)
        .write.mode("overwrite").parquet(s"$AuxDir/q52_edges")
      tr.select("conv_id").distinct().coalesce(1)
        .write.mode("overwrite").parquet(s"$AuxDir/q52_universe")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] q51/q52 aux export failed: ${e.getMessage}")
    }
    // q53 aux: stream-side features + fanout-capped corpus index — the
    // oracle replays candidate join, dedup, kernels and mixture over them
    try {
      import org.apache.spark.sql.functions._
      import graft.streaming.IncrementalLink
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val corpus = docs.where(pmod(col("doc_id"), lit(17)) =!= 0)
        .select(col("doc_id").cast("string").as("conv_id"), col("text"))
      val stream = docs.where(pmod(col("doc_id"), lit(17)) === 0)
        .select(col("doc_id").cast("string").as("conv_id"), col("text"))
      IncrementalLink.corpusIndex(corpus).coalesce(1)
        .write.mode("overwrite").parquet(s"$AuxDir/q53_index")
      IncrementalLink.docFeatures(stream, exactK = 3, lshShingleK = 2,
          numHashes = 96, bands = 24, winnowW = 8, prefixChars = 256)
        .coalesce(1).write.mode("overwrite").parquet(s"$AuxDir/q53_stream")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] q53 aux export failed: ${e.getMessage}")
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(SparkEntry.oracleSql.asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
