package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Pipeline

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val dir = Files.createTempDirectory("perfbench-spec")
  private lazy val spark = Main.session(2, dir)

  override def afterAll(): Unit = {
    spark.stop()
    Ctx.deleteRecursively(dir)
  }

  private def ctx(seed: Long, name: String) = new Ctx(spark, seed, dir.resolve(name))

  /** Staged, warmed up and one timed op run: ready to check. */
  private def ready(w: Workload, c: Ctx): w.type = {
    w.stage(c); w.checkedOp(c); c.clear(); w.op(c); c.clear(); w
  }

  test("span self time is its duration minus the union of its child spans") {
    val parent = Span(0, "p", None, "r", 0L, 100L)
    val spans = Seq(parent,
      Span(1, "a", Some(0), "r", 10L, 30L),
      Span(2, "b", Some(0), "r", 20L, 40L), // overlaps a: the union is [10, 40)
      Span(3, "c", Some(0), "r", 90L, 120L), // clipped to the parent's end
      Span(4, "d", Some(1), "r", 12L, 14L)) // a grandchild does not count twice
    assert(Trace.selfNs(parent, spans) == 100L - 30L - 10L)
    assert(Trace.selfNs(spans(1), spans) == 20L - 2L)
    assert(Trace.unionLength(Nil, 0L, 10L) == 0L)
  }

  test("a live tracer nests spans and attributes their tasks") {
    val tr = new Tracer(spark.sparkContext, "spec")
    tr.span("outer") {
      Thread.sleep(30)
      tr.span("inner")(spark.range(1000).selectExpr("sum(id)").collect())
    }
    val spans = tr.allSpans
    val outer = spans.find(_.name == "outer").get
    val inner = spans.find(_.name == "inner").get
    assert(inner.parent.contains(outer.id))
    assert(Trace.selfNs(outer, spans) == outer.durNs - inner.durNs)
    val m = tr.metrics("inner")
    assert(m.taskS >= 0 && m.failed == 0)
    assert(tr.listener.tasks.size > 0)
    assert(tr.metrics("outer").s >= 0.03)
  }

  test("the traced batch_link composition yields the clusters of Pipeline.run") {
    val c = ctx(7, "compose")
    val w = new BatchLink(60, 40)
    w.stage(c)
    val input = spark.read.parquet(dir.resolve("compose/transcripts").toString)
    val traced = Workloads.composeTraced(c, input, new Tracer(spark.sparkContext, "spec"))
    assert(Checks.assignmentDiff(traced.clusters, Pipeline.run(input).clusters) == 0L)
    assert(traced.clusters.count() == input.select("conv_id").distinct().count())
  }

  test("union-find labels components by their least id") {
    val uf = Checks.unionFind(Seq("c" -> "b", "b" -> "d", "x" -> "y"))
    assert(uf == Map("b" -> "b", "c" -> "b", "d" -> "b", "x" -> "x", "y" -> "x"))
  }

  test("pairwise F1 counts pairs through the contingency table") {
    val truth = Map("a" -> "1", "b" -> "1", "c" -> "1", "d" -> "2")
    assert(Checks.pairF1(truth, truth) == 1.0)
    // split {a,b,c} into {a,b},{c}: 1 of 3 true pairs found, no false pair
    val split = Map("a" -> "1", "b" -> "1", "c" -> "3", "d" -> "2")
    assert(math.abs(Checks.pairF1(split, truth) - 0.5) < 1e-12)
    assert(Checks.pairF1(truth.map { case (k, _) => k -> k }, truth) == 0.0)
  }

  test("a checksum taken by the noop write equals one taken by an aggregate") {
    val c = ctx(1, "sums")
    val df = spark.range(100).selectExpr("id", "cast(id % 7 as string) as s")
    c.noop(df, "x")
    assert(c.written == Seq("x" -> Checks.sum(df)))
    assert(Checks.sum(df.where("id > 0")) != Checks.sum(df))
    assert(Checks.badWrites(c, Map("x" -> df.orderBy(col("id").desc))).isEmpty)
    assert(Checks.badWrites(c, Map("x" -> df.limit(99))) == Seq("x"))
  }

  test("batch_link's check rejects clusters below the F1 floor or a different op output") {
    val c = ctx(3, "wrong-batch")
    val w = ready(new BatchLink(60, 40), c)
    val good = w.check(c)
    assert(good.ok && good.detail.toMap.apply("ops_checked") == 1)
    val written = c.written.head
    c.written(0) = written._1 -> Checks.Sum(written._2.rows, written._2.xor + 1)
    assert(w.check(c).detail.toMap.apply("bad_writes") == Seq("clusters"))
    assert(!w.check(c).ok)
    c.written(0) = written
    w.clusters = w.clusters.select(col("conv_id"), col("conv_id").as("cluster_id"))
    val r = w.check(c)
    assert(!r.ok && r.pairF1 < Checks.MinPairF1)
  }

  private def relabel(df: org.apache.spark.sql.DataFrame) = {
    val victim = df.orderBy("conv_id").head().getString(0)
    df.select(col("conv_id"),
      when(col("conv_id") === victim, lit("zz")).otherwise(col("cluster_id")).as("cluster_id"))
  }

  test("delta_link's check rejects an ingest or a retract with one wrong label") {
    val c = ctx(3, "wrong-delta")
    val w = ready(new DeltaLink(60), c)
    assert(w.check(c).ok)
    val good = (w.ingested, w.retracted)
    w.ingested = relabel(good._1)
    assert(w.check(c).detail.toMap.apply("ingest_diff_rows") == 2L)
    w.ingested = good._1
    w.retracted = relabel(good._2)
    assert(w.check(c).detail.toMap.apply("retract_diff_rows") == 2L)
    assert(!w.check(c).ok)
  }

  test("cc_rounds' check rejects an assignment that merges two components") {
    val c = ctx(3, "wrong-cc")
    val w = ready(new CcRounds(40), c)
    assert(w.check(c).ok)
    w.assignment = w.assignment.select(col("conv_id"), lit("n0").as("cluster_id"))
    val r = w.check(c)
    assert(!r.ok && r.pairF1 < 1.0)
  }

  test("elq_queries' check rejects a missing output and scores q15 against the planted copies") {
    val c = ctx(3, "wrong-elq")
    val w = ready(new ElqQueries(120), c)
    val r = w.check(c)
    assert(r.ok && r.pairF1 == 1.0, r.detail)
    val manifest = Main.Json.readTree(Files.readAllBytes(
      java.nio.file.Paths.get(r.detail.toMap.apply("oracle_manifest").toString)))
    assert(manifest.get("sql").size() == ElqQueries.Queries.size + 1)
    val i = c.written.indexWhere(_._1 == "q47_ltr_features")
    val (n, sum) = c.written(i)
    c.written(i) = n -> Checks.Sum(sum.rows + 1, sum.xor)
    assert(w.check(c).detail.toMap.apply("bad_writes") == Seq("q47_ltr_features"))
    c.written(i) = n -> sum
    Ctx.deleteRecursively(w.outputs.resolve("q53_stream_static_link"))
    assert(!w.check(c).ok)
  }

  test("the generated documents repeat for a seed and plant copies of originals") {
    val (a, roots) = ElqQueries.documents(400, 9)
    assert(a == ElqQueries.documents(400, 9)._1 && a != ElqQueries.documents(400, 10)._1)
    val copies = roots.filter { case (id, root) => id != root }
    assert(copies.nonEmpty && copies.forall { case (id, root) =>
      a(id.toInt).text == a(root.toInt).text + " dup" })
    assert(a.forall(d => d.n_chars == d.text.length && d.source == s"src${d.doc_id % 20}"))
  }

  test("every workload runs end to end at smoke size, traced and untraced") {
    for (name <- Seq("batch_link", "delta_link", "elq_queries", "cc_rounds");
         trace <- Seq(false, true)) {
      val runDir = dir.resolve(s"smoke-$name-$trace")
      Files.createDirectories(runDir)
      val json = Main.run(spark, Workloads(name, smoke = true), seed = 5, seconds = 0.5,
        trace = trace, runDir = runDir, startMs = System.currentTimeMillis(), cores = 2,
        traceFile = if (trace) Some(runDir.resolve("spans.jsonl")) else None)
      assert(json.startsWith("{\"correct\":true,"), s"$name trace=$trace: $json")
      assert(json.contains("\"failed\":0,"), json)
      val expected = if (!trace) Main.EndToEnd.map(_._1) else Main.PerLayer
      expected.foreach(m => assert(json.contains(s"\"$m\":{\"value\":"), s"$name lacks $m"))
      if (trace) assert(Files.size(runDir.resolve("spans.jsonl")) > 0)
    }
  }
}
