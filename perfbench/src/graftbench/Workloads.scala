package graftbench

import java.io.File
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Cli
import graft.sinks.SolrJsonSink

import Main.{Args, Result}

/** Per-pass input sizes. */
object Sizes {
  val MarcRecords = 15000
  val MarcRejectEvery = 1000
  /** registry tables: sf0.1 row counts x TableScale; documents apart, as
    * the curation oracles compare every pair of documents */
  val TableScale = 0.1
  val Documents = 150
  val Queries = Seq("t45_curate_html", "d11_pagerank")
  val WarcDrops = 2
  val WarcPagesPerDrop = 200
}

private object Digest {
  def sha256(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** `process -i marc -w solr` over seeded ISO-2709 files into the loopback
  * Solr stub. Layers: sources (ISO-2709 decode), pipeline (to_field rules),
  * sinks (Solr batching/HTTP and the per-document retry path). */
final class MarcIndex(spark: SparkSession, a: Args, res: Result) extends Workload {
  private val inDir = new File(a.dir, "marc")
  private val stub = new SolrStub(a.cores)
  private var input: Gen.MarcInput = _
  // the decode and to_field kernels are still compiling through the
  // first warm pass (pass times fall ~20% from warm pass 1 to 2)
  override def settlePasses = 1
  // a single pass still varies ~10% run to run; the median of three holds
  override def minWarm = 3

  def records: Double = input.records.toDouble

  def prepare(): Unit = {
    input = Gen.marc(inDir, a.seed, Sizes.MarcRecords, files = 2 * a.cores,
      rejectEvery = Sizes.MarcRejectEvery)
    res.inputs ++= Seq("records" -> input.records, "bytes" -> input.bytes,
      "files" -> input.files, "planted_rejects" -> input.rejects.size,
      "reject_share" -> input.rejects.size.toDouble / input.records)
  }

  private def cliArgs(out: String) = Seq("process", "-i", "marc", "-w", "solr",
    "-u", stub.url, "-o", out,
    "-s", s"solr_writer.max_skipped_records=${input.rejects.size}",
    inDir.getPath)

  private def cliPass(i: Int): Unit = {
    stub.reset()
    try Cli.run(cliArgs(new File(a.dir, s"out-$i").getPath), spark,
      new SolrJsonSink.HttpTransport())
    catch { case Cli.ExitCode(2) => () } // the CLI exits 2 when Solr skipped records
    verify(i)
  }

  /** ids and titles equal what the generator wrote; the skipped set is
    * exactly the planted rejects. */
  private def verify(i: Int): Unit = {
    val acc = stub.accepted
    val wantAccepted = input.records - input.rejects.size
    res.check(acc.size == wantAccepted, s"pass $i: Solr accepted ${acc.size} docs, expected $wantAccepted")
    res.check(stub.duplicates.get == 0, s"pass $i: ${stub.duplicates.get} docs posted twice")
    var badTitles = 0
    acc.forEach((id, t) => if (!input.titles.get(id).contains(t)) badTitles += 1)
    res.check(badTitles == 0, s"pass $i: $badTitles accepted docs with an unknown id or a wrong title")
    val rejected = stub.rejected
    res.check(rejected.size == input.rejects.size && input.rejects.forall(rejected.contains),
      s"pass $i: skipped ${rejected.size} docs, planted ${input.rejects.size}")
    res.check(stub.commits.get == 1, s"pass $i: ${stub.commits.get} commits")
    res.attempted = input.records
    res.failed = rejected.size
  }

  def pass(i: Int, traced: Boolean): Seq[Trace.Span] = {
    if (!traced) { cliPass(i); Nil }
    else {
      val sc = spark.sparkContext
      val (_, read) = Trace.span(sc, "sources") {
        graft.sources.MarcIo.readBinary(spark, inDir.getPath).toDF()
          .write.format("noop").mode("overwrite").save()
      }
      val (_, map) = Trace.span(sc, "pipeline") {
        val recs = graft.sources.MarcIo.readBinary(spark, inDir.getPath).toDF()
        graft.examples.DemoIndexer.index(recs.select(struct(col("leader"), col("fields")).as("record")))
          .write.format("noop").mode("overwrite").save()
      }
      val (_, sink) = Trace.span(sc, "sinks")(cliPass(i))
      Seq(read, map, sink)
    }
  }

  def tracedWall(spans: Seq[Trace.Span]): Double = spans.last.seconds

  def layers(spans: Seq[Trace.Span]): Unit = {
    val Seq(read, map, sink) = spans
    val readAgg = Trace.agg(read)
    res.layer("sources.read_s", read.seconds, "s")
    res.layer("sources.records_in", readAgg.recordsIn.toDouble, "count")
    res.layer("sources.mb_in", readAgg.bytesIn / 1048576.0, "MB")
    res.layer("sources.skipped", (input.records - readAgg.recordsIn).toDouble, "count")
    // self times: each span minus the layers it contains
    res.layer("pipeline.map_s", map.seconds - read.seconds, "s")
    res.layer("pipeline.values_out", stub.values.get.toDouble, "count")
    res.layer("sinks.solr_s", sink.seconds - map.seconds, "s")
    res.layer("sinks.solr_posts", stub.posts.get.toDouble, "count")
    res.layer("sinks.solr_doc_retries", stub.docRetries.get.toDouble, "count")
    res.layer("sinks.solr_mb", stub.bytes.get / 1048576.0, "MB")
    res.layer("sinks.solr_skipped", stub.rejected.size.toDouble, "count")
  }

  override def close(): Unit = stub.stop()
}

/** The `curate -s curate.stream.format=warc -s curate.html=text` CLI path
  * over seeded WARC drops, against a fresh standing corpus and checkpoint.
  * The first drop bootstraps the corpus, the second takes the incremental
  * path. Profiled inside the registry's traced run: the source on its own,
  * then the curation stages (exact dedup, near-dup, decontamination,
  * gates) called one after another on materialized inputs, a corpus
  * write, and the full CLI pass with a streaming listener. Its output is
  * checked against the generator's ground truth. */
final class WarcCurate(spark: SparkSession, dir: File, seed: Long, cores: Int,
                       res: Result, drops: Int, pagesPerDrop: Int) {
  private val warcDir = new File(dir, "warc")
  private val benchPath = new File(dir, "benchmark.parquet").getPath
  private val standing = new File(dir, "standing").getPath
  private var input: Gen.WarcInput = _
  private var ids: Map[String, Long] = Map.empty
  private val streams = new Trace.StreamListener
  private val stageDrops = mutable.LinkedHashMap.empty[String, Long]
  private var pairYield = 0.0
  private var corpusFiles = 0
  private var corpusMb = 0.0
  private var standingRows = 0L

  def prepare(): Unit = {
    input = Gen.warc(spark, warcDir, benchPath, seed, drops, pagesPerDrop, filesPerDrop = cores)
    import spark.implicits._
    // doc_id = xxhash64(target URI): the id the engine's WARC projection
    // assigns, computed here with Spark's own hash of the generated URI
    ids = input.pages.map(_.uri).toDF("uri")
      .select(col("uri"), xxhash64(col("uri")).as("id")).as[(String, Long)]
      .collect().toMap
    val ok = input.pages.filter(_.status == 200)
    val n = input.pages.size.toDouble
    res.inputs ++= Seq("warc.records" -> input.records, "warc.bytes" -> input.bytes,
      "warc.files" -> input.files,
      "warc.non_200_share" -> (input.pages.size - ok.size) / n,
      "warc.exact_dup_share" -> ok.count(_.kind == "exact") / n,
      "warc.near_dup_share" -> ok.count(_.kind == "near") / n,
      "warc.contaminated_share" -> ok.count(_.kind == "contaminated") / n,
      "warc.must_keep" -> ok.count(_.mustKeep))
    spark.streams.addListener(streams)
  }

  private def cliArgs: Seq[String] = Seq("curate",
    "-o", new File(dir, "delta").getPath,
    "-s", "curate.stream.format=warc", "-s", "curate.html=text",
    "-s", s"curate.against=$standing",
    "-s", s"curate.stream.checkpoint=${new File(dir, "ckpt").getPath}",
    "-s", s"curate.stream.max_files_per_trigger=$cores",
    "-s", s"curate.benchmark=$benchPath",
    warcDir.getPath)

  /** At most one member of each planted exact-duplicate group survives,
    * every must-keep page survives, no contaminated page survives, and no
    * record is unreadable. The output hash is recorded for comparison
    * across runs at one seed. */
  private def verify(): Unit = {
    import spark.implicits._
    val out = spark.read.parquet(standing).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val kept = out.iterator.map(_._1).toSet
    val ok = input.pages.filter(_.status == 200)
    val groups = ok.filter(_.group >= 0).groupBy(_.group).values.filter(_.size > 1)
    val overKept = groups.count(g => g.count(p => kept(ids(p.uri))) > 1)
    res.check(overKept == 0, s"warc: $overKept exact-duplicate groups kept more than one member")
    val lost = ok.count(p => p.mustKeep && !kept(ids(p.uri)))
    res.check(lost == 0, s"warc: $lost must-keep pages dropped")
    val leaked = ok.count(p => p.kind == "contaminated" && kept(ids(p.uri)))
    res.check(leaked == 0, s"warc: $leaked contaminated pages kept")
    val readable = spark.read.format("warc").load(warcDir.getPath).count()
    res.check(readable == input.records, s"warc: ${input.records - readable} records unreadable")
    standingRows = out.length
    res.inputs("warc.exact_dup_groups") = groups.size
    res.inputs("warc.output_rows") = out.length
    res.inputs("warc.output_sha256") = Digest.sha256(out.iterator.map { case (id, t) => s"$id\t$t" })
  }

  def tracedPass(): Seq[Trace.Span] = {
    import graft.ops.{Dedup, TextAnalysis}
    val sc = spark.sparkContext
    val raw = spark.read.format("warc").load(warcDir.getPath)
    val (_, read) = Trace.span(sc, "warc.sources") {
      graft.streaming.IncrementalCuration.warcDocs(raw).write.format("noop").mode("overwrite").save()
    }
    val docs = graft.streaming.IncrementalCuration.warcDocs(raw)
      .withColumn("text", TextAnalysis.normalizeNfc(TextAnalysis.htmlToText(col("text")), stripControls = true))
      .filter(length(col("text")) > 0)
      .localCheckpoint(true)
    val nDocs = docs.count()
    stageDrops("sources") = input.records - nDocs
    def step(name: String, in: DataFrame, nIn: Long)(f: DataFrame => DataFrame): (DataFrame, Long, Trace.Span) = {
      val (out, s) = Trace.span(sc, s"warc.$name") {
        val o = f(in).localCheckpoint(true)
        o.count(); o
      }
      val n = out.count()
      stageDrops(name) = nIn - n
      (out, n, s)
    }
    val (exact, nExact, sExact) = step("exact_dedup", docs, nDocs)(d =>
      Dedup.exactDedupAnti(d, TextAnalysis.fingerprintMd5(col("text")), "doc_id"))
    val (near, nNear, sNear) = step("near_dup", exact, nExact)(d =>
      Dedup.nearDupDedup(d, "doc_id", "text", 0.8))
    val bench = spark.read.parquet(benchPath).select("text")
    val (decon, nDecon, sDecon) = step("decontam", near, nNear) { d =>
      val hit = Dedup.bloomContamination(d, bench, "doc_id", "text")
        .filter(col("n_overlap") > 0).select("doc_id")
      d.join(hit, Seq("doc_id"), "left_anti")
    }
    val cfg = graft.examples.CurationPipeline.Config()
    val (gated, _, sGates) = step("gates", decon, nDecon)(d => d
      .filter(TextAnalysis.qualityScore(col("text")) >= cfg.minQuality)
      .filter(TextAnalysis.duplicateNgramRatio(col("text"), 3) <= cfg.maxDup3Ratio)
      .filter(col("lang").isin(cfg.langs: _*))
      .withColumn("text", TextAnalysis.scrubPii(col("text"))))
    // near-dup pair yield: verified pairs over all LSH candidate pairs
    // (threshold 0 keeps every candidate)
    val verified = Dedup.minhashNearDupPairs(exact, "doc_id", "text", 0.8).count()
    val candidates = Dedup.minhashNearDupPairs(exact, "doc_id", "text", 0.0).count()
    pairYield = if (candidates > 0) verified.toDouble / candidates else 0.0
    val corpus = new File(dir, "corpus")
    val (_, sWrite) = Trace.span(sc, "warc.corpus_write") {
      graft.sinks.CorpusWriter.writeCurated(
        gated.withColumn("split", lit("train")), corpus.getPath, partitionCols = Seq("split", "lang"))
    }
    corpusFiles = Files.countFiles(corpus, ".parquet")
    corpusMb = Files.sizeOf(corpus) / 1048576.0
    streams.reset()
    val (_, sCli) = Trace.span(sc, "warc.cli")(Cli.run(cliArgs, spark, new SolrJsonSink.HttpTransport()))
    verify()
    Seq(read, sExact, sNear, sDecon, sGates, sWrite, sCli)
  }

  def layers(spans: Seq[Trace.Span]): Unit = {
    val Seq(read, sExact, sNear, sDecon, sGates, sWrite, sCli) = spans
    res.layer("sources.read_s", read.seconds, "s")
    res.layer("sources.records_in", input.records.toDouble, "count")
    res.layer("sources.mb_in", input.bytes / 1048576.0, "MB")
    res.layer("sources.skipped", stageDrops("sources").toDouble, "count")
    res.layer("ops.exact_dedup_s", sExact.seconds, "s")
    res.layer("ops.near_dup_s", sNear.seconds, "s")
    res.layer("ops.decontam_s", sDecon.seconds, "s")
    res.layer("ops.gates_s", sGates.seconds, "s")
    res.layer("ops.dropped_exact", stageDrops("exact_dedup").toDouble, "count")
    res.layer("ops.dropped_near", stageDrops("near_dup").toDouble, "count")
    res.layer("ops.dropped_decontam", stageDrops("decontam").toDouble, "count")
    res.layer("ops.dropped_gates", stageDrops("gates").toDouble, "count")
    res.layer("ops.near_dup_pair_yield", pairYield, "share")
    res.layer("sinks.corpus_write_s", sWrite.seconds, "s")
    res.layer("sinks.corpus_files", corpusFiles.toDouble, "count")
    res.layer("sinks.corpus_mb", corpusMb, "MB")
    res.layer("streaming.cli_s", sCli.seconds, "s")
    res.layer("streaming.batches", streams.batchMs.size.toDouble, "count")
    res.layer("streaming.batch_s_max", if (streams.batchMs.isEmpty) 0.0 else streams.batchMs.max / 1e3, "s")
    res.layer("streaming.standing_rows", standingRows.toDouble, "count")
  }

  def close(): Unit = spark.streams.removeListener(streams)
}

/** Registered queries on seeded sf-shaped tables. Each query is built,
  * planned and executed as three separately timed calls; the seed sets
  * the query order. The cold pass writes every result as parquet for the
  * DuckDB oracle (perfbench/oracle.py); warm passes execute to the noop
  * sink. The data is small, so driver orchestration dominates:
  * construction-time jobs, per-exchange jobs in graph loops, gaps between
  * jobs. The traced run also profiles the WARC curation path
  * ([[WarcCurate]]), which runs the same ops at a larger scale. */
final class RegistryConstruct(spark: SparkSession, a: Args, res: Result) extends Workload {
  private val tables = new File(a.dir, "tables")
  private val outDir = new File(a.dir, "results")
  private var rows = 0L
  private val order = new scala.util.Random(a.seed).shuffle(Sizes.Queries)
  private var runs = 0L
  private var failures = 0L
  private val warc = new WarcCurate(spark, new File(a.dir, "curate"), a.seed, a.cores, res,
    Sizes.WarcDrops, Sizes.WarcPagesPerDrop)
  private var querySpans = 0

  def records: Double = rows.toDouble

  def prepare(): Unit = {
    rows = Gen.tables(spark, tables, a.seed, Sizes.TableScale, Sizes.Documents)
    res.inputs ++= Seq("table_rows" -> rows, "table_scale" -> Sizes.TableScale,
      "documents" -> Sizes.Documents, "bytes" -> Files.sizeOf(tables),
      "query_order" -> order.mkString(","))
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => Sizes.Queries.contains(k) }
      .map { case (k, v) => s"${Main.jsonString(k)}: ${Main.jsonString(v)}" }
    outDir.mkdirs()
    java.nio.file.Files.writeString(new File(outDir, "oracle_sql.json").toPath, oracle.mkString("{", ",", "}"))
    if (a.trace) warc.prepare()
  }

  def pass(i: Int, traced: Boolean): Seq[Trace.Span] = {
    val sc = spark.sparkContext
    val spans = order.flatMap { q =>
      runs += 1
      try {
        val (df, c) = Trace.span(sc, s"$q.construct")(graft.SparkEntry.queries(q)(spark, tables.getPath))
        val (_, p) = Trace.span(sc, s"$q.plan")(df.queryExecution.executedPlan)
        val (_, e) = Trace.span(sc, s"$q.exec") {
          if (i == 0) df.write.mode("overwrite").parquet(new File(outDir, q).getPath)
          else df.write.format("noop").mode("overwrite").save()
        }
        Seq(c, p, e)
      } catch {
        case t: Throwable =>
          failures += 1
          res.check(ok = false, s"pass $i: $q threw $t")
          Nil
      }
    }
    querySpans = spans.size
    if (traced) spans ++ warc.tracedPass() else Nil
  }

  def tracedWall(spans: Seq[Trace.Span]): Double = spans.take(querySpans).map(_.seconds).sum

  def layers(spans: Seq[Trace.Span]): Unit = {
    val (qs, ws) = spans.splitAt(querySpans)
    def phase(suffix: String) = qs.filter(_.name.endsWith(suffix))
    val construct = phase(".construct"); val plan = phase(".plan"); val exec = phase(".exec")
    res.layer("queries.construct_s", construct.map(_.seconds).sum, "s")
    res.layer("queries.construct_jobs", Trace.total(construct).jobs.toDouble, "count")
    res.layer("queries.plan_s", plan.map(_.seconds).sum, "s")
    res.layer("queries.exec_s", exec.map(_.seconds).sum, "s")
    res.layer("queries.exec_jobs", (Trace.total(exec).jobs + Trace.total(plan).jobs).toDouble, "count")
    res.layer("queries.gap_s", exec.map(s => s.seconds - Trace.inJobsSeconds(Trace.agg(s))).sum, "s")
    Sizes.Queries.foreach { q =>
      qs.find(_.name == s"$q.construct").foreach { s =>
        res.layer(s"registry.$q.construct_s", s.seconds, "s")
        res.layer(s"registry.$q.construct_jobs", Trace.agg(s).jobs.toDouble, "count")
      }
      qs.find(_.name == s"$q.exec").foreach(s => res.layer(s"registry.$q.exec_s", s.seconds, "s"))
    }
    warc.layers(ws)
  }

  /** Oracle mismatches are added by perfbench/oracle.py. */
  override def finish(): Unit = {
    res.attempted = runs
    res.failed = failures
    res.inputs("results_dir") = outDir.getPath
    res.inputs("tables_dir") = tables.getPath
  }

  override def close(): Unit = warc.close()
}
