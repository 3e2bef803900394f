package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.core.Catalog
import graft.ext._
import graft.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Direct calls into single layers, made only by traced runs. Each
  * probe runs under its own span and `perfbench.op` id, so its jobs and
  * self time are attributable to that layer alone.
  */
final class Probes(spark: SparkSession, dir: String, tracer: Tracer, trace: SparkTrace) {
  private val sc = spark.sparkContext
  private val cat = Catalog(spark, dir)
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
  var attempted = 0

  private def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  /** One probe group; a group that throws is recorded, not fatal, so
    * the other layers are still measured.
    */
  private def attempt(name: String)(body: => Unit): Unit = {
    attempted += 1
    try body
    catch { case e: Throwable => errors(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
  }

  /** Run `body` as probe `name`; returns (seconds, result, jobs run). */
  private def probe[T](name: String)(body: => T): (Double, T, Int) = {
    val id = s"probe:$name"
    sc.setLocalProperty(PassCounters.OpKey, id)
    tracer.op = id
    val t0 = System.nanoTime()
    val r = try tracer.span(name)(body) finally {
      sc.setLocalProperty(PassCounters.OpKey, null)
      tracer.op = ""
    }
    val secs = (System.nanoTime() - t0) / 1e9
    PassCounters.settle(() => trace.events)
    (secs, r, trace.jobsOf(_ == id).size)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Scans, the Etl base and its four sinks, plain and partitioned
    * writes, and two streaming queries run to completion.
    */
  def retail(): Unit = {
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    val bytes = tables.map(t => Files.size(Paths.get(dir, s"$t.parquet"))).sum
    attempt("sources.scan") {
      val (scanS, _, _) = probe("sources.scan")(tables.foreach(t => noop(cat.table(t))))
      put("sources.scan_mb_s", bytes / 1e6 / scanS, "MB/s")
    }
    attempt("analytics.Etl.cleanBase") {
      val (baseS, _, _) = probe("analytics.Etl.cleanBase")(
        noop(graft.analytics.Etl.cleanBase(cat.lineitem, cat.orders)))
      put("analytics.Etl.cleanBase_s", baseS, "s")
    }
    attempt("analytics.Etl.run") {
      val (runS, _, _) = probe("analytics.Etl.run")(
        graft.analytics.Etl.run(spark, dir, graft.core.Scratch.path("perfbench_etl_probe")))
      put("analytics.Etl.run_s", runS, "s")
    }
    attempt("sources.write")(writes())
    attempt("streaming")(streaming())
  }

  /** lineitem written as one parquet table and partitioned by return flag. */
  private def writes(): Unit = {
    val writeRoot = Paths.get(graft.core.Scratch.path("perfbench_writes"))
    val (writeS, _, _) = probe("sources.write") {
      graft.sources.Writers.parquet(cat.lineitem, writeRoot.resolve("plain").toString)
      graft.sources.Writers.partitionedParquet(cat.lineitem, writeRoot.resolve("parts").toString,
        "l_returnflag")
    }
    val written = dataFiles(writeRoot)
    val writtenBytes = written.map(f => Files.size(f)).sum.toDouble
    put("sources.write_mb_s", writtenBytes / 1e6 / writeS, "MB/s")
    put("sources.write_amp", writtenBytes / (2.0 * Files.size(Paths.get(dir, "lineitem.parquet"))), "ratio")
    put("sources.files_written", written.size.toDouble, "count")
  }

  /** Two stateful streaming queries run to completion over the events
    * table staged as a file-stream source.
    */
  private def streaming(): Unit = {
    val staged = Paths.get(graft.core.Scratch.dir("perfbench_stream_src"))
    Files.copy(Paths.get(dir, "events.parquet"), staged.resolve("part-0.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streams = new StreamTrace
    spark.streams.addListener(streams)
    val (streamS, _, _) = try probe("streaming") {
      graft.streaming.EventStream.runStatefulToCompletion(spark, staged.toString).count()
      graft.streaming.EventStream.runStatefulSessionsToCompletion(spark, staged.toString).count()
    } finally {
      PassCounters.settle(() => streams.events)
      spark.streams.removeListener(streams)
    }
    val batchS = streams.batchMs.map(_ / 1e3).toSeq.sorted
    put("streaming.batches", batchS.size.toDouble, "count")
    put("streaming.batch_s.p50", if (batchS.isEmpty) 0.0 else batchS(batchS.size / 2), "s")
    put("streaming.batch_s.max", if (batchS.isEmpty) 0.0 else batchS.max, "s")
    put("streaming.rows_per_s", if (batchS.sum > 0) streams.inputRows / batchS.sum else 0.0, "rows/s")
    put("streaming.state_rows", streams.stateRows.toDouble, "count")
    put("streaming.state_mb", streams.stateBytes / 1e6, "MB")
    put("streaming.run_s", streamS, "s")
  }

  private def dataFiles(root: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.startsWith("part-")).toList
    finally walk.close()
  }

  /** Native text kernels as projections over a cached copy of the
    * corpus widened 40x (kernel rows/s, not per-job overhead), then the
    * dedup, graph and ML operators on the corpus as generated.
    */
  def corpus(): Unit = {
    val docs = cat.documents.cache()
    val n = docs.count().toDouble
    val wide = docs.select(col("text")).crossJoin(spark.range(40))
      .repartition(sc.defaultParallelism).cache()
    val wideRows = wide.count().toDouble
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    val markers = Seq(stop -> false, Seq("the", "and", "of", "to", "is") -> true,
      Seq("el", "la", "de", "que", "es") -> true, Seq("le", "la", "de", "et", "est") -> true)
    val grams = wide.select(HashedNgrams.of(col("text"), 5).as("a"),
      HashedNgrams.of(col("text"), 4).as("b")).cache()
    grams.count()
    val kernels: Seq[(String, DataFrame)] = Seq(
      "HashedNgrams" -> wide.select(HashedNgrams.of(col("text"), 5)),
      "MinHashSignature" -> wide.select(
        MinHashSignature.of(col("text"), 5, MinHashDedup.numHashes, MinHashDedup.P)),
      "SimHashFingerprint" -> wide.select(SimHashFingerprint.of(col("text"))),
      "TokenMemberCounts" -> wide.select(TokenMemberCounts.of(col("text"), markers)),
      "SortedIntersectCount" -> grams.select(SortedIntersectCount.ofSorted(col("a"), col("b"))))
    kernels.foreach { case (k, df) =>
      attempt(s"functions.$k") {
        val (s, _, _) = probe(s"functions.$k")(noop(df))
        put(s"functions.$k.rows_s", wideRows / s, "rows/s")
      }
    }
    grams.unpersist()
    wide.unpersist()
    attempt("ext.MinHashDedup") {
      val (_, cand, _) = probe("ext.MinHashDedup.candidatePairs")(MinHashDedup.candidatePairs(docs).count())
      val (vs, verified, _) = probe("ext.MinHashDedup.verifiedPairs")(MinHashDedup.verifiedPairs(docs).count())
      put("ext.MinHashDedup.s", vs, "s")
      put("ext.MinHashDedup.candidate_pairs", cand.toDouble, "count")
      put("ext.MinHashDedup.verified_pairs", verified.toDouble, "count")
      put("ext.MinHashDedup.pair_yield", if (cand > 0) verified.toDouble / cand else 0.0, "ratio")
    }
    attempt("ext.SimHash") {
      put("ext.SimHash.s", probe("ext.SimHash")(noop(SimHash.pairs(docs)))._1, "s")
    }
    attempt("ext.NgramJaccard") {
      put("ext.NgramJaccard.s", probe("ext.NgramJaccard")(noop(NgramJaccard.pairs(docs)))._1, "s")
    }
    attempt("ext.DedupClusters") {
      val pairs = MinHashDedup.verifiedPairs(docs, 5, 0.5)
      put("ext.DedupClusters.s", probe("ext.DedupClusters")(noop(DedupClusters.clusters(docs, pairs)))._1, "s")
    }
    attempt("ext.CorpusPipeline") {
      val (ps, kept, _) = probe("ext.CorpusPipeline")(CorpusPipeline.curate(docs).count())
      put("ext.CorpusPipeline.s", ps, "s")
      put("ext.CorpusPipeline.kept_ratio", kept / n, "ratio")
    }
    docs.unpersist()
    iterative()
  }

  /** Iterative graph operators over the co-purchase graph the graph
    * registry builds, and the iterative ML twins.
    */
  private def iterative(): Unit = {
    val li = cat.lineitem.select(col("l_orderkey"), col("l_partkey"))
    val edges = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") && col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
    val graphs: Seq[(String, () => DataFrame)] = Seq(
      "PageRank" -> (() => PageRank.ranks(edges)),
      "Triangles" -> (() => Triangles.perNode(edges)),
      "BfsHops" -> (() => BfsHops.hops(edges)),
      "LabelPropagation" -> (() => LabelPropagation.communities(edges)))
    graphs.foreach { case (k, f) =>
      attempt(s"ext.$k") {
        val (s, _, jobs) = probe(s"ext.$k")(noop(f()))
        put(s"ext.$k.s", s, "s")
        put(s"ext.$k.jobs", jobs.toDouble, "count")
      }
    }
    val ml: Seq[(String, () => DataFrame)] = Seq(
      "AlsTwin" -> (() => graft.ml.AlsTwin.recommend(cat.orders, cat.lineitem)),
      "SegmentationLloyd" -> (() => graft.ml.SegmentationLloyd.segments(cat.customer, cat.orders)),
      "SegmentationAutoK" -> (() => graft.ml.SegmentationAutoK.report(cat.customer, cat.orders)))
    ml.foreach { case (k, f) =>
      attempt(s"ml.$k")(put(s"ml.$k.s", probe(s"ml.$k")(noop(f()))._1, "s"))
    }
  }
}
