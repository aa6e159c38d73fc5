package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{HashingKernels, SimilarityKernels}
import graft.pipeline.{Blocking, Pipeline, TranscriptGen}

/** ns/call of the scalar kernels the pipeline's stages run, after JIT
  * warm-up, on a fixed sample of batch_link-shaped docs and their candidate
  * pairs (generated from the run's seed).
  *
  * Usage: perfbench.Kernels --seed <n> --run-dir <dir> --out <file>
  *
  * run.py starts it in a JVM of its own with the default tiered JIT, the
  * one the program runs under, after a traced run's harness JVM has ended.
  */
object Kernels {

  val Names: Seq[String] = Seq(
    "functions.jaro_winkler_ns", "functions.levenshtein_banded_ns",
    "functions.jaccard_long_sets_ns", "functions.minhash_band_keys_ns",
    "functions.winnowed_shingles_ns", "functions.pair_combos_long_ns")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val runDir = java.nio.file.Paths.get(opt("run-dir")).toAbsolutePath
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), runDir)
    try {
      val m = measure(spark, opt.getOrElse("seed", "42").toLong)
      java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")), Main.Json.writeValueAsBytes(m))
    } finally spark.stop()
  }

  private final case class Doc(prefix: UTF8String, tokh: ArrayData, tokSet: ArrayData)

  def measure(spark: SparkSession, seed: Long, nBase: Long = 300): Map[String, Double] = {
    val cfg = Pipeline.Config()
    val docsDf = Pipeline.docsPayload(
      TranscriptGen.transcripts(spark, nBase, dupsPerBase = 2, seed = seed), cfg).cache()
    val rows = docsDf.select("hid", "prefix", "tokh").collect()
    val docs = rows.map(r => r.getLong(0) -> {
      val tokh = r.getSeq[Long](2).toArray
      Doc(UTF8String.fromString(r.getString(1)), new GenericArrayData(tokh),
        new GenericArrayData(tokh.distinct))
    }).toMap
    val (pairsDf, _) = Blocking.pairsFromBlocks(Pipeline.blocksPayload(docsDf, cfg), cfg.maxBlockSize)
    val pairs = pairsDf.select("conv_a", "conv_b").collect()
      .map(r => (docs(r.getLong(0)), docs(r.getLong(1))))
    docsDf.unpersist()
    val docArr = docs.values.toArray
    val hids = rows.map(_.getLong(0))
    // member arrays of 2..16 doc ids, the capped block sizes pair enumeration sees
    val members = hids.indices.map(i =>
      new GenericArrayData(Array.tabulate(2 + i % 15)(j => hids((i + j * 7) % hids.length))): ArrayData)
      .toArray

    Map(
      "functions.jaro_winkler_ns" -> nsPerCall(pairs) { case (a, b) =>
        SimilarityKernels.jaroWinkler(a.prefix, b.prefix) },
      "functions.levenshtein_banded_ns" -> nsPerCall(pairs) { case (a, b) =>
        SimilarityKernels.levenshteinBanded(a.prefix, b.prefix, cfg.levMaxDist).toDouble },
      "functions.jaccard_long_sets_ns" -> nsPerCall(pairs) { case (a, b) =>
        SimilarityKernels.jaccardLongSets(a.tokSet, b.tokSet) },
      "functions.minhash_band_keys_ns" -> nsPerCall(docArr) { d =>
        HashingKernels.minhashBandKeysFromHashes(d.tokh, cfg.lshShingleK, cfg.numHashes,
          cfg.bands).numElements().toDouble },
      "functions.winnowed_shingles_ns" -> nsPerCall(docArr) { d =>
        HashingKernels.winnowedShingleHashesFromHashes(d.tokh, cfg.shingleK, cfg.winnowWindow,
          Blocking.ExactShingleSeed).numElements().toDouble },
      "functions.pair_combos_long_ns" -> nsPerCall(members) { m =>
        HashingKernels.pairCombosLong(m).numElements().toDouble })
  }

  /** Median over batches of ns per call, after a warm-up of the same length;
    * each batch is at least 50 ms of calls.
    */
  def nsPerCall[A](inputs: Array[A])(f: A => Double): Double = {
    require(inputs.nonEmpty, "kernel sample is empty")
    var sink = 0.0
    def batch(calls: Int): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < calls) { sink += f(inputs(i % inputs.length)); i += 1 }
      (System.nanoTime() - t0).toDouble / calls
    }
    // warm-up, sizing the batch to ~50 ms
    var calls = inputs.length
    val warmEnd = System.nanoTime() + 300000000L
    while (System.nanoTime() < warmEnd) batch(calls)
    while (batch(calls) * calls < 5e7) calls *= 2
    val out = Workloads.median((1 to 5).map(_ => batch(calls)))
    if (sink == Double.MinValue) println(sink) // keeps the calls observable
    out
  }
}
